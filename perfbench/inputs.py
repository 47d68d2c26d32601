"""Seeded benchmark inputs with golden spans by construction.

Documents are rendered by the repository's own generators
(``fixtures.generate_doc_spans`` plus ``render_markdown`` / ``generate_pdf``
/ ``generate_layout``) from a synthetic source text shaped like the testdata
``documents`` table (10-100 words drawn uniformly from a 30-word vocabulary,
20 sources). The golden span sequence is the generator's own output, so no
fixture file is read or grown, and every document is rendered once under its
own number: no row is copied under a renamed id, which would push repeated
edge lines past ``compute_boilerplate``'s ``min_docs`` and strip lines that
golden keeps.

Rendering costs milliseconds per document, so each (format, size) renders
one universe of ``UNIVERSE`` x size consecutive documents once per checkout.
A seed picks a window of `size` consecutive universe documents and gives
them fresh seed-derived ids. Consecutive windows keep the generator's skew
mix (every 101st document is ~50x the median) at the same ~1% share for
every seed. Both steps are cached under ``perfbench/.cache`` and run in a
child interpreter, so the benchmark's own memory peak does not depend on
whether the cache was warm; none of it is timed.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CACHE_ROOT = Path(__file__).resolve().parent / ".cache" / "inputs"
GEN_VERSION = "1"
UNIVERSE = 4
FIRST_NUM = 100_000_000  # universe document numbers start here

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
FAIL_SHARE = 0.05  # documents injected to fail in resume pass 1

INPUT_SCHEMA = {
    "markdown": pa.schema([("doc_id", pa.string()), ("markdown", pa.string())]),
    "pdf": pa.schema([("doc_id", pa.string()), ("pdf_bytes", pa.binary())]),
    "layout": pa.schema([("doc_id", pa.string()), ("page_no", pa.int32()),
                         ("bbox", pa.list_(pa.float64())),
                         ("category", pa.string()), ("text", pa.string())]),
}
GOLDEN_SCHEMA = pa.schema([("doc_id", pa.string()), ("offset", pa.int32()),
                           ("kind", pa.string()), ("text", pa.string()),
                           ("media_ref", pa.string())])


def source_text(num: int) -> tuple[str, str]:
    """(text, source) for document number `num`."""
    rng = np.random.default_rng([0x7E47, num])
    words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
    return " ".join(VOCAB[w] for w in words), f"src{num % N_SOURCES}"


def window(seed: int, n_docs: int) -> tuple[int, int]:
    """(first universe index, first document id) for `seed`."""
    rng = np.random.default_rng([0x5EED, int(seed)])
    first = int(rng.integers(0, (UNIVERSE - 1) * n_docs + 1))
    return first, int(rng.integers(10_000_000, 900_000_000))


def doc_ids(seed: int, n_docs: int) -> list[str]:
    label = window(seed, n_docs)[1]
    return [f"{label + i:09d}" for i in range(n_docs)]


def fail_docs(seed: int, ids: list[str]) -> frozenset[str]:
    """Seeded subset of documents whose first extraction pass fails."""
    rng = np.random.default_rng([0xFA11, int(seed)])
    k = max(1, round(FAIL_SHARE * len(ids)))
    return frozenset(ids[i] for i in rng.choice(len(ids), size=k,
                                                replace=False))


def _render(job: tuple[str, list[int]]) -> tuple[list[dict], list[dict]]:
    """Render one chunk of documents to (input rows, golden rows)."""
    from pdf_parse_bench_spark import fixtures as fx

    fmt, nums = job
    inputs, golden = [], []
    for num in nums:
        doc_id = f"{num:09d}"
        text, source = source_text(num)
        spans = fx.generate_doc_spans(num, text)
        if fmt == "markdown":
            inputs.append({"doc_id": doc_id,
                           "markdown": fx.render_markdown(num, spans, source)})
            gold = spans
        elif fmt == "pdf":
            pdf_bytes, _text, gold, _scheme, _images = fx.generate_pdf(num, spans)
            inputs.append({"doc_id": doc_id, "pdf_bytes": pdf_bytes})
        else:
            blocks, gold = fx.generate_layout(num, spans, source)
            inputs.extend({"doc_id": doc_id, "page_no": pg, "bbox": bbox,
                           "category": cat, "text": txt}
                          for pg, bbox, cat, txt in blocks)
        golden.extend({"doc_id": doc_id, "offset": s["offset"],
                       "kind": s["kind"], "text": s["text"],
                       "media_ref": s["media_ref"]} for s in gold)
    return inputs, golden


def render_universe(fmt: str, n_docs: int, out_dir: Path,
                    processes: int = 1) -> None:
    """Render `n_docs` consecutive documents into ``input.parquet`` and
    ``golden.parquet``. Output bytes do not depend on `processes`."""
    if fmt not in INPUT_SCHEMA:
        raise ValueError(f"unknown input format {fmt!r}")
    nums = list(range(FIRST_NUM, FIRST_NUM + n_docs))
    step = -(-n_docs // (8 * processes))
    jobs = [(fmt, nums[i:i + step]) for i in range(0, n_docs, step)]
    if processes > 1:
        with multiprocessing.get_context("spawn").Pool(processes) as pool:
            parts = pool.map(_render, jobs)
    else:
        parts = [_render(j) for j in jobs]
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, schema, k in (("input", INPUT_SCHEMA[fmt], 0),
                            ("golden", GOLDEN_SCHEMA, 1)):
        rows = [r for p in parts for r in p[k]]
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       out_dir / f"{name}.parquet", compression="zstd")


def select_window(universe_dir: Path, seed: int, n_docs: int,
                  out_dir: Path) -> None:
    """Copy the seed's window of universe documents under fresh ids."""
    first, label = window(seed, n_docs)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in ("input", "golden"):
        t = pq.read_table(universe_dir / f"{name}.parquet")
        idx = pc.subtract(pc.cast(t["doc_id"], pa.int64()), FIRST_NUM + first)
        keep = pc.and_(pc.greater_equal(idx, 0), pc.less(idx, n_docs))
        t, idx = t.filter(keep), idx.filter(keep)
        ids = pc.utf8_lpad(pc.cast(pc.add(idx, label), pa.string()), 9, "0")
        t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", ids)
        pq.write_table(t, out_dir / f"{name}.parquet", compression="zstd")


def _in_child(*args) -> None:
    """Run ``main(args)`` of this module in a fresh interpreter."""
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(p for p in sys.path if p))
    subprocess.run([sys.executable, "-m", "perfbench.inputs",
                    *map(str, args)], check=True, env=env)


def _cached(out: Path, build) -> Path:
    if (out / "_COMPLETE").exists():
        return out
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    (tmp / "_COMPLETE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def ensure_inputs(fmt: str, seed: int, n_docs: int) -> Path:
    """Directory holding ``input.parquet`` and ``golden.parquet`` for
    (fmt, seed, n_docs), built on first use."""
    universe = _cached(
        CACHE_ROOT / f"v{GEN_VERSION}-{fmt}-universe-n{UNIVERSE * n_docs}",
        lambda d: _in_child("universe", fmt, UNIVERSE * n_docs, d))
    return _cached(
        CACHE_ROOT / f"v{GEN_VERSION}-{fmt}-s{seed}-n{n_docs}",
        lambda d: _in_child("window", universe, seed, n_docs, d))


def main(argv: list[str]) -> None:
    """``universe FMT N OUT`` or ``window UNIVERSE_DIR SEED N OUT``."""
    if argv[0] == "universe":
        render_universe(argv[1], int(argv[2]), Path(argv[3]),
                        processes=len(os.sched_getaffinity(0)))
    elif argv[0] == "window":
        select_window(Path(argv[1]), int(argv[2]), int(argv[3]),
                      Path(argv[4]))
    else:
        raise SystemExit(f"unknown command {argv[0]!r}")


if __name__ == "__main__":
    main(sys.argv[1:])
