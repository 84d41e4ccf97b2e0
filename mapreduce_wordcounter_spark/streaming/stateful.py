"""Custom stateful streaming operator (SURVEY.md §7 phase 6).

``applyInPandasWithState`` is the escape hatch for streaming semantics
the built-in operators can't express: arbitrary per-key state machines,
custom eviction, cross-event logic. The operator here — a cumulative
per-user event counter — is deliberately simple so its *machinery*
(Arrow-batched state updates, update-mode emission, state schema) is
fully exercised while its semantics stay oracle-checkable: drained over
a finite source, the final per-user count must equal the batch
``GROUP BY user_id`` count.

Scale posture: state is partitioned by the grouping key across
executors and checkpointed via the state store (RocksDB-backed in
production); per-key state here is a single long, so state size is
O(distinct users), the same bound a built-in streaming agg would have.
The reference has no streaming at all (terminates after one pass,
main.go:106-110) — this is north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from mapreduce_wordcounter_spark.registry import query
from mapreduce_wordcounter_spark.streaming.windows import drain, events_stream
from mapreduce_wordcounter_spark.tables import table_rows

_OUT_SCHEMA = "user_id bigint, n_events bigint"
_STATE_SCHEMA = "n bigint"


def user_running_counts(stream: DataFrame) -> DataFrame:
    """Attach the stateful running-count operator to an events stream.
    Emits one (user_id, cumulative n_events) row per key per
    micro-batch in update mode.

    The state-transition function is nested so cloudpickle serializes
    it BY VALUE: Spark's Python workers don't share the driver's
    sys.path, so a module-level function would unpickle by reference
    and die with ModuleNotFoundError when the package is loaded via a
    path hack (the grading driver does exactly that). Same rule as
    mm_features_pandas."""

    def update_running_count(key, pdfs, state):
        # Per-key state transition: fold this micro-batch's rows into
        # the stored count, emit the new cumulative value.
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update_running_count,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful_user_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful operator drained over the finite events source:
    the last cumulative emission per user equals the batch GROUP BY
    count — streaming-batch equivalence as the correctness contract
    (multi-batch state progression is pinned in tests/test_streaming.py)."""
    out = user_running_counts(events_stream(spark, sf_dir))
    live = drain(out, table_rows(spark, sf_dir, "events"), "update")
    # Update mode appends one row per key per micro-batch; the running
    # count is monotone, so max = final.
    return live.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def user_profile_tws(stream: DataFrame) -> DataFrame:
    """Attach the transformWithState per-user profile operator: running
    event count (ValueState) + distinct event-type set (MapState).

    ``transformWithStateInPandas`` is Spark 4's successor to
    ``applyInPandasWithState``: named state variables with independent
    schemas/TTLs instead of one monolithic state tuple, plus timers.
    Both flavors are kept here deliberately — same pipeline, two state
    APIs. The processor class is nested so cloudpickle ships it by
    value (same worker-pickling rule as update_running_count above).

    Scale posture: state lives in the per-partition RocksDB store
    keyed by user_id; the MapState holds ≤|event_type| entries per
    user, so state is O(users x event_types) — bounded, and TTL-able
    via the ttlDurationMs argument when user churn matters."""
    from pyspark.sql.streaming import StatefulProcessor

    class UserProfile(StatefulProcessor):
        def init(self, handle):
            self._n = handle.getValueState("n", "n bigint")
            self._types = handle.getMapState("types", "t string", "seen boolean")

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                for t in pdf["event_type"].unique():
                    self._types.updateValue((str(t),), (True,))
            self._n.update((n,))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "n_types": [n_types]}
            )

        def close(self):
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        UserProfile(),
        outputStructType="user_id bigint, n_events bigint, n_types bigint",
        outputMode="Update",
        timeMode="None",
    )


_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _tws_available() -> bool:
    """transformWithState's Python state-server protocol speaks
    protobuf (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
    google.protobuf at query start). This container ships pyspark
    without the protobuf dependency, so the operator is registered only
    where it can actually run — same import-gate pattern as the
    multimodal decode stubs."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no parent 'google' package at all
        return False


def stream_tws_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithState drained over the finite events source. Both
    emitted metrics are monotone, so max-per-user of the update-mode
    emissions equals the batch GROUP BY — the same streaming-batch
    equivalence contract as stream_stateful_user_counts.

    transformWithState requires the RocksDB state store; the provider
    conf is set for the duration of this run and restored after (other
    queries keep the session default)."""
    prior = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    try:
        out = user_profile_tws(events_stream(spark, sf_dir))
        live = drain(out, table_rows(spark, sf_dir, "events"), "update")
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prior)
    return live.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("n_types").alias("n_types")
    )


if _tws_available():  # pragma: no cover - absent in this container
    query(
        "stream_tws_user_profile",
        oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_types
        FROM events
        GROUP BY user_id
        """,
    )(stream_tws_user_profile)


_PROFILE_OUT_SCHEMA = "user_id bigint, n_events bigint, n_types bigint"
_PROFILE_STATE_SCHEMA = "n bigint, types string"


def user_profile_apws(stream: DataFrame) -> DataFrame:
    """The transformWithState profile operator re-expressed on
    ``applyInPandasWithState`` — the SAME semantics (per-user running
    event count + distinct-event-type count) carried by the monolithic
    state tuple instead of named state variables: the ValueState maps
    to a bigint field, the MapState to a JSON-encoded sorted string
    set — unambiguous for EVERY value including the empty string
    (a separator-joined encoding maps {''} to '' which decodes to
    the empty set, regressing n_types across micro-batches). Bounded:
    |event_type| is a small vocabulary, the same O(users x
    event_types) state bound the tWS MapState has.

    This is the equivalence twin the tWS operator is judged against
    where protobuf exists, and the TESTED path everywhere (pytest
    asserts its drained result equals the batch GROUP BY
    unconditionally — no environment gate). Nested transition fn for
    by-value pickling (module rule)."""

    def update_profile(key, pdfs, state):
        import json as _json

        import pandas as pd

        if state.exists:
            n, types_s = state.get
            seen = set(_json.loads(types_s)) if types_s else set()
        else:
            n, seen = 0, set()
        for pdf in pdfs:
            n += len(pdf)
            seen.update(str(t) for t in pdf["event_type"].unique())
        state.update((n, _json.dumps(sorted(seen))))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_types": [len(seen)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType=_PROFILE_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_apws_user_profile",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def stream_apws_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profile twin drained over the finite events source: both
    emitted metrics are monotone, so max-per-user of the update-mode
    emissions equals the batch GROUP BY — the same streaming-batch
    equivalence contract as stream_stateful_user_counts, now covering
    multi-variable state (count + distinct set) without the protobuf
    dependency transformWithState needs.

    Scale: state is one bigint + one bounded string per user,
    partitioned by user_id in the state store; emission is one row per
    active key per micro-batch (update mode)."""
    out = user_profile_apws(events_stream(spark, sf_dir))
    live = drain(out, table_rows(spark, sf_dir, "events"), "update")
    return live.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("n_types").alias("n_types")
    )


_MAX_OUT_SCHEMA = "user_id bigint, cur_max double"
_MAX_STATE_SCHEMA = "mx double"


def user_max_cdc(stream: DataFrame) -> DataFrame:
    """Change-data-capture shape: per-user running MAX(value), emitting
    a row ONLY in micro-batches where the max increased — the
    threshold-crossing / high-watermark alerting pattern (downstream
    consumers see a change stream, not a per-batch snapshot). Nested
    for by-value pickling (module rule)."""

    def update_max(key, pdfs, state):
        import pandas as pd

        mx = state.get[0] if state.exists else None
        new_mx = mx
        for pdf in pdfs:
            if len(pdf):
                batch_max = float(pdf["value"].max())
                if new_mx is None or batch_max > new_mx:
                    new_mx = batch_max
        if new_mx is not None and (mx is None or new_mx > mx):
            state.update((new_mx,))
            yield pd.DataFrame({"user_id": [key[0]], "cur_max": [new_mx]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update_max,
        outputStructType=_MAX_OUT_SCHEMA,
        stateStructType=_MAX_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful_max_cdc",
    oracle="""
    SELECT user_id, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_max_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC operator drained over the finite corpus: the LAST
    emitted max per user must equal the batch MAX — final-state
    equivalence is the oracle; the change-only emission semantics
    (which only exist across micro-batches) are pinned by
    tests/test_streaming.py::test_stateful_max_emits_changes_only.

    Scale: one double per user of state; emission volume ∝ number of
    actual high-watermark changes, not stream length — the property
    that makes the change stream cheap to sink."""
    out = user_max_cdc(events_stream(spark, sf_dir))
    live = drain(out, table_rows(spark, sf_dir, "events"), "update")
    return live.groupBy("user_id").agg(F.max("cur_max").alias("max_value"))
