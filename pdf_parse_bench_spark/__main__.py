"""CLI — the reference's per-parser command surface (pipeline/cli.py:31-127,
`uv run -m parsers.<name> -i data/<dataset>`) re-expressed as one backend-
parameterized entry point:

    python -m pdf_parse_bench_spark backends
    python -m pdf_parse_bench_spark extract --backend markdown \
        --input fixtures/sf0.001/parsed_markdown.parquet --output /tmp/spans \
        [--checkpoint /tmp/ckpt] [--cores N]
    python -m pdf_parse_bench_spark score --extracted /tmp/spans \
        --golden fixtures/sf0.001/golden_spans.parquet
    python -m pdf_parse_bench_spark summarize --scores fixtures/sf0.001/extraction_scores.parquet

`extract` overwrites --output with the backend's spans and ends with one
JSON line: `docs` (input rows), `output_rows` (rows --output holds),
`sec` and `docs_per_sec` (the extraction and write, without the input
count), and `master`. `extract --checkpoint` runs one resumable markdown
pass (resume.run_resumable) instead: it appends the spans of the
documents the checkpoint does not yet record as ok, plus one lineage row
per document. Lineage exists for the markdown backend only, so any other
backend refuses --checkpoint. `--backend` names a key of
`extract.BACKENDS`; argparse rejects any other name before Spark starts.
`--cores` defaults to the process's CPU affinity count; under
spark-submit the submitted --master holds.

jobs/extract_job.py is `extract` as a spark-submit script:

    spark-submit --py-files pdf_parse_bench_spark.zip jobs/extract_job.py \
        --input <parquet> --output <dir> [--checkpoint <dir>]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pdf_parse_bench_spark.operators.extract import BACKENDS


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pdf_parse_bench_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("backends", help="list the extraction backends")

    p_ex = sub.add_parser("extract", help="run an extraction backend")
    p_ex.add_argument("--backend", default="markdown",
                      choices=sorted(BACKENDS))
    p_ex.add_argument("--input", required=True)
    p_ex.add_argument("--output", required=True)
    p_ex.add_argument("--checkpoint", default=None)
    p_ex.add_argument("--cores", type=int, default=None)

    p_sc = sub.add_parser("score", help="exact + judged scoring vs golden")
    p_sc.add_argument("--extracted", required=True)
    p_sc.add_argument("--golden", required=True)
    p_sc.add_argument("--cores", type=int, default=None)

    p_su = sub.add_parser("summarize", help="grouped mean scores + leaderboard")
    p_su.add_argument("--scores", required=True)
    p_su.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)
    if args.cmd == "extract" and args.checkpoint and args.backend != "markdown":
        ap.error(f"--checkpoint: lineage is markdown-only, not available "
                 f"for --backend {args.backend}")

    if args.cmd == "backends":
        print("\n".join(sorted(BACKENDS)))
        return 0

    from pdf_parse_bench_spark.session import get_spark

    spark = get_spark(f"cli-{args.cmd}", cores=args.cores)
    try:
        if args.cmd == "extract":
            df = spark.read.parquet(args.input)
            n_docs = df.count()
            t0 = time.perf_counter()
            if args.checkpoint:
                from pdf_parse_bench_spark.operators.resume import (
                    run_resumable,
                )
                run_resumable(df, args.output, args.checkpoint)
            else:
                BACKENDS[args.backend](df).write.mode(
                    "overwrite").parquet(args.output)
            sec = time.perf_counter() - t0
            from pyspark.errors import AnalysisException
            try:
                # with --checkpoint: every pass's rows, repeats included
                n_out = spark.read.parquet(args.output).count()
            except AnalysisException:
                n_out = 0  # a --checkpoint pass that had nothing to write
            print(json.dumps({
                "docs": n_docs,
                "output_rows": n_out,
                "sec": round(sec, 3),
                "docs_per_sec": round(n_docs / sec, 2),
                "master": spark.sparkContext.master,
            }))
        elif args.cmd == "score":
            from pdf_parse_bench_spark import score_spans, score_spans_judged
            ext = spark.read.parquet(args.extracted)
            gold = spark.read.parquet(args.golden)
            exact = score_spans(ext, gold)
            from pyspark.sql import functions as F
            row = exact.agg(
                F.sum("n_matched").alias("matched"),
                F.sum("n_golden").alias("golden"),
            ).first()
            judged = score_spans_judged(ext, gold)
            avg = judged.agg(F.avg("score")).first()[0]
            # no extracted (doc_id, offset) matches golden → nothing judged
            mean = "n/a" if avg is None else f"{avg:.3f}/10"
            print(f"exact match: {row.matched}/{row.golden} "
                  f"({row.matched / max(1, row.golden):.4f}); "
                  f"judged mean: {mean}")
        elif args.cmd == "summarize":
            from pdf_parse_bench_spark.operators.aggregates import (
                grouped_mean_scores, leaderboard, leaderboard_markdown,
            )
            scores = spark.read.parquet(args.scores)
            grouped_mean_scores(scores).orderBy(
                "parser_name", "kind", "judge_model"
            ).show(50, truncate=False)
            leaderboard(scores).show(truncate=False)
            # the human-facing artifact (generate_benchmark_table.py analog)
            print(leaderboard_markdown(scores))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
