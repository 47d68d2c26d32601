"""Word tokenization shared by the dedup and textstats operators.

``word_array`` (JVM column) and ``doc_words`` (Python, inside kernels)
are the one tokenization every text operator uses; ``word_grams`` and
``ngram_digests`` (a ``kernel_op`` stage) build word n-grams on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdf_parse_bench_spark.operators.kernel import kernel_op


def word_array():
    """The doc's words as an array column: split(trim(text), ' +') minus
    empties — the one tokenization every text operator shares."""
    return F.filter(F.split(F.trim(F.col("text")), " +"), lambda x: x != "")


def doc_words(text: str) -> list[str]:
    """Python twin of word_array(): split on single spaces, drop empties —
    identical tokens to split(trim(text), ' +') for any input (runs of
    spaces yield empty tokens that the filter drops either way)."""
    return [t for t in text.split(" ") if t]


def word_grams(words: list[str], n: int) -> list[str]:
    """The doc's word n-grams in order, space-joined; a doc shorter than
    n words is one gram, its whole word sequence."""
    if len(words) < n:
        return [" ".join(words)]
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def ngram_digests(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh binary): the doc's DISTINCT word-n-gram md5 digests,
    one row each; docs shorter than n words emit none. hashlib md5 bytes
    ARE the JVM md5 hex key, so the 16-byte digest is an
    equality-preserving narrowing of the hex string. The kernel hands
    back one array row per doc (empty for a short doc) and the JVM
    explodes it."""
    import hashlib

    def digests(text):
        w = doc_words(text)
        grams = word_grams(w, n) if len(w) >= n else ()
        return [{"sh": list({hashlib.md5(g.encode()).digest()
                             for g in grams})}]

    return kernel_op(docs, digests, "sh array<binary>",
                     args=["text"]).select(
        "doc_id", F.explode("sh").alias("sh"))
