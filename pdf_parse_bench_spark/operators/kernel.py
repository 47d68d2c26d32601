"""The one scaffold every per-document operator runs on.

The reference runs each backend through one interface (`PDFParser.parse`,
utilities/base_parser.py:8-43); here that interface is ``kernel_op``: a
plain Python kernel maps one document's argument values to the rows it
emits, and this module owns the Python boundary around it — the single
``mapInPandas`` call, the per-batch loop, the key copy and the columnar
frame build. Sizing (operators/skew.py) and failure isolation stay with
the caller.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def kernel_op(df: DataFrame,
              kernel: Callable[..., Sequence[Mapping]],
              schema: StructType | str, *,
              keys: Sequence[str] = ("doc_id",),
              args: Sequence[str]) -> DataFrame:
    """Run ``kernel(*row[args])`` once per input row, inside Arrow batches.

    The kernel returns a list of rows, each a mapping keyed by output
    column; the helper copies the input row's ``keys`` columns onto every
    one of them, so the kernel supplies only the remaining columns of
    ``schema`` (extra entries are ignored). An empty list drops the input
    row. One pandas frame is built per Arrow batch, column by column."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    keys, args = list(keys), list(args)
    values = [f.name for f in schema.fields if f.name not in keys]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in keys + values}
            key_cols = [out[c] for c in keys]
            val_cols = [(out[c], c) for c in values]
            for key, arg in zip(zip(*(pdf[c] for c in keys)),
                                zip(*(pdf[c] for c in args))):
                rows = kernel(*arg)
                for col, v in zip(key_cols, key):
                    col.extend(repeat(v, len(rows)))
                for col, c in val_cols:
                    col.extend([r[c] for r in rows])
            yield pd.DataFrame(out)

    return (df.select(*dict.fromkeys(keys + args))
            .mapInPandas(run, schema=schema))
