"""The one scaffold every per-document operator runs on.

The reference runs each backend through one interface (`PDFParser.parse`,
utilities/base_parser.py:8-43); here that interface is ``kernel_op``: a
plain Python kernel maps one document's argument values to the rows it
emits, and this module owns the Python boundary around it — the stage's
one-wave sizing (operators/skew.spread_for_kernel, hashed on ``keys``),
the single ``mapInPandas`` call, the per-batch loop, the key copy and
the columnar frame build. A kernel's schema names only what the kernel
computes: each key column it leaves out is the input's field (name,
type and nullability), so ``doc_id`` keeps whatever type the input
table gives it. An input that already comes out of an exchange
keeps it: AQE coalesces that exchange under the same ``TASK_BYTES``
floor (session.get_spark sets
``spark.sql.adaptive.coalescePartitions.minPartitionSize``), so a
post-``groupBy`` kernel stage runs on about one wave too. No caller
spreads a kernel's input; failure isolation stays with the caller.

Fan-out convention: a kernel that turns one document into many small
numeric rows (winnowing fingerprints, shingle digests, trigram counts)
returns ONE row per document whose value columns are arrays, and the
caller fans them out in the JVM with ``F.explode`` or
``F.inline(F.arrays_zip(...))``. The per-row work at the Python boundary
is what a cheap kernel pays for (CIDR 2022, "Accelerating Python UDFs in
Vectorized Query Execution"). Measured on the 5,000 documents of the
sf0.1 ``documents`` table on a 4-vCPU Intel Xeon VM, medians of 7
alternating reps, identical exploded rows:

- Python side (kernel loop plus the pandas → Arrow conversion): trigram
  counts (712,778 rows) 0.51 s as flat rows → 0.28 s as array rows;
  shingle digests (235,704 rows) 0.64 s → 0.45 s. One mapping per output
  row instead took the trigram kernel to 1.39 s against 0.25 s before
  the Arrow step, so a fan-out kernel never returns one dict per row.
- Whole stage (``noop`` write, explode included): trigram counts
  0.80-0.87 s flat → 0.75-0.86 s, digests 0.80-0.99 s → 0.70-0.91 s over
  two runs; at this size the stage is within noise of the flat loop.

Array cells are Python lists (``ndarray.tolist()``): PySpark's pandas →
Arrow converter calls ``list(value)`` on every array cell, which on an
ndarray boxes one NumPy scalar per element (trigram stage 0.91 s with
ndarray cells, 0.74 s with lists). A fan-out kernel returns its array
row even when the arrays are empty (explode drops it): a batch in which
every kernel returned ``[]`` builds float64 columns, which Arrow cannot
convert to an array type.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from pdf_parse_bench_spark.operators.skew import spread_for_kernel


def kernel_op(df: DataFrame,
              kernel: Callable[..., Sequence[Mapping]],
              schema: StructType | str, *,
              keys: Sequence[str] = ("doc_id",),
              args: Sequence[str]) -> DataFrame:
    """Run ``kernel(*row[args])`` once per input row, inside Arrow batches.

    The kernel returns a list of rows, each a mapping keyed by output
    column; the helper copies the input row's ``keys`` columns onto every
    one of them, so the kernel supplies only the remaining columns of
    ``schema`` (extra entries are ignored). Each key that ``schema``
    leaves out goes in front of its fields as the input's field; a key
    it names keeps the schema's field. An empty list drops the input row.
    One pandas frame is built per Arrow batch, column by column. The
    (keys, args) projection is spread over one wave of Python tasks
    first (skew.spread_for_kernel)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    keys, args = list(keys), list(args)
    named = set(schema.fieldNames())
    schema = StructType(
        [StructField(f.name, f.dataType, f.nullable)
         for f in (df.schema[k] for k in keys if k not in named)]
        + schema.fields)
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

    return (spread_for_kernel(df.select(*dict.fromkeys(keys + args)), *keys)
            .mapInPandas(run, schema=schema))
