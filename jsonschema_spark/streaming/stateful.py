"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference is stateless per instance; a streaming validation monitor
needs *running* per-key tallies that survive across micro-batches (e.g.
"invalid-rate per fmt since job start", feeding alerting).  State is
per-key and Arrow-batched; at cluster scale each key's state lives on
one executor (hash-partitioned by the groupBy), so the operator scales
horizontally with key cardinality.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..validator import CompiledValidator


def running_validity_counts(stream_df: DataFrame, schema: Any,
                            key_cols: Sequence[str]) -> DataFrame:
    """Per-key running (rows, invalid_rows, invalid_rate) across the
    whole stream — emitted (update mode) every micro-batch the key
    appears in."""
    v = CompiledValidator(schema, stream_df)
    annotated = stream_df.withColumn("_valid", v.valid_column) \
                         .select(*key_cols, "_valid")
    # key columns keep their real stream types (a bigint key hardcoded
    # as string would corrupt the Arrow conversion)
    key_types = {f.name: f.dataType.simpleString()
                 for f in stream_df.schema.fields}
    out_schema = (", ".join(f"`{k}` {key_types[k]}" for k in key_cols)
                  + ", rows long, invalid_rows long, invalid_rate double")

    def update(key, pdfs: Iterable[pd.DataFrame],
               state: GroupState):
        rows, bad = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            rows += len(pdf)
            bad += int((~pdf["_valid"]).sum())
        state.update((rows, bad))
        yield pd.DataFrame([
            list(key) + [rows, bad, (bad / rows) if rows else 0.0]],
            columns=list(key_cols) + ["rows", "invalid_rows",
                                      "invalid_rate"])

    return (annotated.groupBy(*key_cols)
            .applyInPandasWithState(
                update, outputStructType=out_schema,
                stateStructType="rows long, invalid_rows long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
