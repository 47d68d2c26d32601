"""spark-submit entry point: the CLI's `extract` (pdf_parse_bench_spark
/__main__.py has the options and the JSON line it prints).

    spark-submit --master local-cluster[N,8,6144] \
        --py-files pdf_parse_bench_spark.zip \
        jobs/extract_job.py --input <parquet> --output <dir> \
        [--backend markdown] [--checkpoint <dir>]
"""

import sys

from pdf_parse_bench_spark.__main__ import main

if __name__ == "__main__":
    raise SystemExit(main(["extract", *sys.argv[1:]]))
