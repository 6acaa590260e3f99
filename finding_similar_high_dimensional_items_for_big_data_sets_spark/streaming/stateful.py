"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference has no streaming runtime at all (SURVEY §2.9); this gives
the engine the stateful piece a continuously-ingesting similarity
pipeline needs: a **running per-query top-k** over a stream of scored
candidates, the streaming completion of ``streaming_lsh_probe``.

Scale notes: ``applyInPandasWithState`` shuffles by the group key into
the state store — the same hash partitioning a batch groupBy would do —
and processes each group's rows as Arrow batches. A skewed key's rows
do cross to Python (chunked Arrow iteration, never one giant frame),
but its STATE stays one k-list however many rows arrive, so the state
store cannot be skewed.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_topk(
    scored: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Running per-query top-k over a stream of scored candidates.

    The streaming completion of ``streaming_lsh_probe`` (which can only
    threshold-filter — global sort is not streamable): per ``query_col``,
    maintain the best-k ``(score desc, id asc)`` candidates seen so far
    in the state store and re-emit the refreshed top-k whenever a
    micro-batch touches that query. Output adds a ``rank`` column.

    State is the top-k lists themselves — k ids + k scores per query —
    so state size is O(queries * k), not O(candidates).
    """
    out_schema = (
        f"{query_col} long, {id_col} long, {score_col} double, rank integer"
    )

    def refresh(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, scores = state.get
            seen = {int(i): float(s) for i, s in zip(ids, scores)}
        else:
            seen = {}
        for pdf in pdfs:
            for i, s in zip(pdf[id_col], pdf[score_col]):
                i = int(i)
                s = float(s)
                if i not in seen or s > seen[i]:
                    seen[i] = s
        best = sorted(seen.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        state.update(([i for i, _ in best], [s for _, s in best]))
        yield pd.DataFrame(
            {
                query_col: [key[0]] * len(best),
                id_col: [i for i, _ in best],
                score_col: [s for _, s in best],
                "rank": list(range(1, len(best) + 1)),
            }
        )

    return scored.groupBy(query_col).applyInPandasWithState(
        refresh,
        outputStructType=out_schema,
        stateStructType="ids array<long>, scores array<double>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
