"""Stateful streaming politeness: per-host-group fetch permits.

The streaming analog of the reference's per-origin serial queue +
sleep-interval throttling (/root/reference/src/lib/throttled-queue.js:
110-128, used by specs-crawler.js:461-470): discovered URLs arrive as a
stream, and each host group hands out fetch permits in deterministic
order at ``budget`` permits per round. The per-group cursor (how many
permits the group has ever issued) is CUSTOM STREAMING STATE kept by
``applyInPandasWithState`` — it survives micro-batches and, through the
checkpoint, engine restarts, so a resumed stream continues numbering
exactly where it stopped (the BSP engine's ``seen``/frontier tables play
this role in batch mode; SURVEY.md §2.9 stateful rate limiting).

Scale shape: state is one long per host group, partitioned by the
stream's groupBy — hot groups shard across executors by key, and the
permit assignment within a batch is vectorized pandas, not per-row
Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "url_canon string, host_group string, fetch_seq long, permitted_round long"
)
STATE_SCHEMA = "n long"


def politeness_permits_stream(
    urls: DataFrame,
    budgets: dict[str, int] | None = None,
    default_budget: int = 10,
) -> DataFrame:
    """Assign (fetch_seq, permitted_round) per host_group on a stream.

    ``urls`` is a (possibly streaming) DataFrame with ``url_canon``,
    ``host_group`` and an event-time column ``warc_ts`` (discovery
    time). Within a micro-batch a group's URLs are ordered by
    (warc_ts, url_canon); ``fetch_seq`` continues from the group's
    stored cursor and ``permitted_round = fetch_seq // budget`` — at
    most ``budget`` fetches per politeness round per host group.
    """
    budgets = dict(budgets or {})

    def assign(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (hg,) = key
        start = state.get[0] if state.exists else 0
        budget = budgets.get(hg, default_budget)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "url_canon"], ignore_index=True)
        seq = np.arange(start, start + len(rows), dtype="int64")
        state.update((int(start + len(rows)),))
        yield pd.DataFrame(
            {
                "url_canon": rows["url_canon"],
                "host_group": hg,
                "fetch_seq": seq,
                "permitted_round": seq // budget,
            }
        )

    return (
        urls.select("url_canon", "host_group", "warc_ts")
        .groupBy("host_group")
        .applyInPandasWithState(
            assign,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_permits_batch(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    budgets: dict[str, int] | None = None,
    default_budget: int = 10,
) -> None:
    """AvailableNow runner: process all unseen files, then stop — the
    scheduled-incremental shape. The keyed cursors live in the
    checkpoint's state store, so a later invocation (new files) keeps
    numbering where this one stopped."""
    stream = spark.readStream.schema(
        "url_canon string, host_group string, warc_ts timestamp"
    ).parquet(source_dir)
    q = (
        politeness_permits_stream(stream, budgets, default_budget)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
