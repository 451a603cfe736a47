"""Custom stateful streaming operator: cross-micro-batch exact dedup.

The stateless ingest path (ingest.py) re-emits a document every time its
url reappears in a later crawl drop. This operator keeps a per-key state
(the set of content fingerprints already emitted for that key) with
``applyInPandasWithState`` — the engine-level template for any custom
stateful operator the reference family needs (AD-DMBERT's
confident-set accumulation, A9 correct-count accumulation) when input is
a stream rather than snapshot tables.

Scale notes:
  * state is keyed by ``key_col`` (url-hash distributes it); each key
    holds only fingerprints (8-byte hashes), not documents
  * GroupStateTimeout.NoTimeout — crawl dedup state is permanent for the
    run; production would set a TTL via ProcessingTimeTimeout to bound
    the store
  * the same function body serves batch backfill via applyInPandas with
    an empty initial state (tested in test_streaming.py)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "seen array<long>"
OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("n_seen_before", T.IntegerType()),
    ]
)


def _dedup_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    seen: set[int] = set(state.get[0]) if state.exists else set()
    out_rows: list[tuple[Any, ...]] = []
    for pdf in pdfs:
        for fp, url in zip(pdf["fingerprint"].to_numpy(), pdf["url"]):
            fp = int(fp)
            if fp not in seen:
                out_rows.append((key[0], fp, url, len(seen)))
                seen.add(fp)
    state.update((sorted(seen),))
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["key", "fingerprint", "url", "n_seen_before"]
        )


def stream_dedup(docs_stream: DataFrame) -> DataFrame:
    """documents stream -> first-occurrence rows only, across ALL
    micro-batches (state survives between triggers via the state store)."""
    keyed = docs_stream.select(
        F.substring(F.col("url"), 9, 12).alias("key"),  # host prefix block
        F.xxhash64("text").alias("fingerprint"),
        "url",
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_canonical(docs_stream: DataFrame) -> DataFrame:
    """First crawl per CANONICAL url across micro-batches.

    A recrawl that differs only in tracking params, default ports,
    fragments, case, or a trailing slash is the same page
    (operators/urls.canonical_url) and must not re-enter the pipeline.
    State is keyed by host — the natural crawl distribution key — and
    holds one 8-byte hash per distinct canonical page on that host.
    """
    from deepee_spark.operators.urls import canonical_url, host_of

    keyed = docs_stream.select(
        host_of(F.col("url")).alias("key"),
        F.xxhash64(canonical_url(F.col("url"))).alias("fingerprint"),
        "url",
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


POLITE_STATE_SCHEMA = "last_fetch_at long"
POLITE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("ts_s", T.LongType()),
        T.StructField("fetch_at", T.LongType()),
        T.StructField("wait_s", T.LongType()),
    ]
)


def _politeness_group_fn(gap_s: int):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        out: list[tuple[Any, ...]] = []
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            rows.extend(zip(pdf["ts_s"].astype(int), pdf["url"]))
        for ts, url in sorted(rows):
            at = ts if last is None else max(ts, last + gap_s)
            out.append((key[0], url, ts, at, at - ts))
            last = at
        if last is not None:
            state.update((int(last),))
        if out:
            yield pd.DataFrame(
                out, columns=["host", "url", "ts_s", "fetch_at", "wait_s"]
            )

    return fn


def stream_politeness(requests: DataFrame, gap_s: int = 5) -> DataFrame:
    """Streaming twin of operators/urls.politeness_schedule: per-host
    fetch slots respecting a minimum gap, with the host's last granted
    slot carried ACROSS micro-batches in the state store. Within a
    micro-batch the host's requests fold in deterministic (ts, url)
    order; across batches, arrival (commit) order governs — a request
    surfacing after the scheduler has already granted later slots gets
    queued behind them (fetch_at = max(ts, last + gap) even when ts is
    older than last), which is exactly how a live scheduler must
    behave: it cannot grant slots in the past. State is ONE bigint per
    host; the batch operator's running-max window is the backfill
    formulation, this is the online one — the pytest drives both and
    checks they agree when every request arrives in order."""
    keyed = requests.select("host", "url", F.col("ts_s").cast("long"))
    return keyed.groupBy("host").applyInPandasWithState(
        _politeness_group_fn(gap_s),
        outputStructType=POLITE_OUT_SCHEMA,
        stateStructType=POLITE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _NoState:
    """Empty-initial-state shim so a streaming group function body can
    run under batch applyInPandas (the replay/backfill oracle path —
    same convention as cep.batch_pattern_match)."""

    exists = False
    get = None

    def update(self, _):
        pass


def batch_dedup_replay(
    docs: DataFrame,
    key_col: str = "key",
    fp_col: str = "fingerprint",
    url_col: str = "url",
) -> DataFrame:
    """Batch replay of stream_dedup's group body (_dedup_group) with a
    DETERMINISTIC arrival order: within each key the rows fold in
    (url, fingerprint)-ascending order (a live stream's arrival order
    is not a property of the data, so replay pins a total order — the same
    contract a re-run of a persisted stream log would give). Emits the
    first occurrence of every (key, fingerprint) with n_seen_before =
    number of distinct fingerprints the key had already emitted.

    Input already carries (key, fingerprint, url) — the caller picks
    the content hash (stream_dedup uses xxhash64; the contract query
    uses the md5_long48 cross-engine hash) so the replay twin is
    oracle-checkable. Scale shape: one keyed shuffle into the
    applyInPandas cogroup, state never materialized (replay IS the
    fold)."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # (url, fingerprint): a total fold order even when urls repeat
        pdf = pdf.sort_values(["url", "fingerprint"], kind="mergesort")
        out = list(_dedup_group(key, iter([pdf]), _NoState()))
        return (
            pd.concat(out)
            if out
            else pd.DataFrame(
                columns=["key", "fingerprint", "url", "n_seen_before"]
            )
        )

    keyed = docs.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(fp_col).cast("long").alias("fingerprint"),
        F.col(url_col).alias("url"),
    )
    return keyed.groupBy("key").applyInPandas(run, OUT_SCHEMA)


def batch_politeness_replay(requests: DataFrame, gap_s: int = 5) -> DataFrame:
    """Batch replay of stream_politeness' group body
    (_politeness_group_fn) via applyInPandas with an empty initial
    state: per host the requests fold in (ts_s, url) order —
    deterministic, so the whole-input replay must equal the batch
    running-max operator (operators/urls.politeness_schedule) row for
    row; that equality is exactly what the contract oracle checks
    cross-engine. One keyed shuffle on host."""
    fn = _politeness_group_fn(gap_s)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = list(fn(key, iter([pdf]), _NoState()))
        return (
            pd.concat(out)
            if out
            else pd.DataFrame(
                columns=["host", "url", "ts_s", "fetch_at", "wait_s"]
            )
        )

    keyed = requests.select("host", "url", F.col("ts_s").cast("long"))
    return keyed.groupBy("host").applyInPandas(run, POLITE_OUT_SCHEMA)
