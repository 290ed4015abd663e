"""Python UDTF surface (SURVEY.md §2.9): table functions that expand
one input row into many output rows, callable laterally from SQL.

The instance here is the LLM-pipeline primitive: context-window
CHUNKING — split each document into fixed-size token chunks with
ordinal + size, the unit fed to tokenizer/training shards.  The
chunking arithmetic is SQL-expressible (that's what makes it
oracle-checkable); the UDTF exists to prove the lateral
one-row→many-rows Python surface on a real operation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

_CLEAN = re.compile(r"[^a-z0-9 ]")


@udtf(returnType="chunk_idx int, chunk string, n_tokens bigint")
class ChunkDocument:
    """Yield (chunk_idx, chunk_text, n_tokens) fixed-size token chunks
    of one document.  Tokenization mirrors operators.text.tokens (and
    the DuckDB oracle): lowercase, non-alphanumerics → space, split."""

    def eval(self, text: str, chunk_size: int):  # noqa: ANN201
        toks = _CLEAN.sub(" ", (text or "").lower()).split()
        for i in range(0, (len(toks) + chunk_size - 1) // chunk_size):
            part = toks[i * chunk_size : (i + 1) * chunk_size]
            yield i, " ".join(part), len(part)


@udtf
class NgramWindows:
    """POLYMORPHIC UDTF (Spark 4 ``analyze``): sliding n-gram windows
    over a document, with the output schema decided at ANALYSIS time
    from the call's literal ``n`` — ``gram_1 .. gram_n`` columns plus
    the ordinal.  One registration serves every n; the planner sees an
    exact per-call schema instead of a generic blob, so downstream
    projection/pruning work as if the schema were hand-written."""

    @staticmethod
    def analyze(text, n):  # noqa: ANN001, ANN205
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        if n.value is None or int(n.value) < 1:
            raise ValueError("n must be a positive integer literal")
        fields = [StructField("pos", IntegerType())]
        fields += [
            StructField(f"gram_{i + 1}", StringType())
            for i in range(int(n.value))
        ]
        return AnalyzeResult(StructType(fields))

    def eval(self, text: str, n: int):  # noqa: ANN201
        toks = _CLEAN.sub(" ", (text or "").lower()).split()
        for i in range(max(len(toks) - n + 1, 0)):
            yield (i, *toks[i : i + n])


def register_udtfs(spark: SparkSession) -> None:
    spark.udtf.register("chunk_document", ChunkDocument)
    spark.udtf.register("ngram_windows", NgramWindows)


def chunk_documents(
    documents: DataFrame, chunk_size: int = 32
) -> DataFrame:
    """Lateral-join the UDTF against every document."""
    spark = documents.sparkSession
    register_udtfs(spark)
    # {d} binds the DataFrame to a uuid-named view for this one call
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_tokens
        FROM {d} d,
             LATERAL chunk_document(d.text, {n}) c
        """,
        d=documents,
        n=int(chunk_size),
    )
