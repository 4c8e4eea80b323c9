"""Raw-query entry point: stateless batch SQL over parquet.

Reference: RawQueryEngine.scala:56-195 — input files registered as a plain
table named `input` (no watermarks, no system columns), the multi-step SQL
loop (:138-149), a single output parquet file, response carries only
numRecords (:111-112). This is exactly Spark's native shape; the whole
streaming scaffolding (marker files, terminateWhenExhausted, constant-0
timestamps at :188) disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.dialect import rewrite_query
from ..protocol.model import InvalidQueryError, RawQueryRequest, RawQueryResponse
from ..sinks.parquet import write_single_parquet
from ..sources.parquet import read_parquet_slices


def run_query_steps(spark: SparkSession, steps, *, watermark=None) -> DataFrame:
    """Run a chained multi-step transform: each aliased step becomes a temp
    view usable by later steps; the last (unaliased) step is the output
    (TransformEngine.scala:252-262)."""
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    result: DataFrame | None = None
    for step in steps:
        if re.search(r"\bMATCH_RECOGNIZE\b", step.query, re.IGNORECASE):
            # Spark has no native MATCH_RECOGNIZE; run the bounded matcher
            # (whole input watermark-complete). The total order the matcher
            # needs comes from the pattern's ORDER BY attribute.
            from ..operators.base import SEQ_INPUT
            from ..operators.match_recognize import (
                match_recognize_batch,
                parse_match_recognize,
            )

            spec = parse_match_recognize(step.query)
            if spec is None:
                raise InvalidQueryError("unsupported MATCH_RECOGNIZE shape")
            src = spark.table(spec["src"])
            if SEQ_INPUT not in src.columns:
                if "offset" in src.columns:
                    # ODF inputs carry the ledger offset — the natural
                    # total order, no sort needed.
                    src = src.withColumn(SEQ_INPUT, F.col("offset").cast("long"))
                else:
                    # Fallback: a global row_number (single-partition sort —
                    # acceptable for the bounded raw-query surface, which
                    # writes a single output file anyway).
                    src = src.withColumn(
                        SEQ_INPUT,
                        F.row_number()
                        .over(Window.orderBy(F.col(spec["time_col"]).asc()))
                        .cast("long"),
                    )
            df = match_recognize_batch(spark, src, step.query)
        else:
            df = spark.sql(rewrite_query(step.query, watermark=watermark))
        if step.alias:
            df.createOrReplaceTempView(step.alias)
        result = df
    if result is None:
        raise InvalidQueryError("transform contains no query steps")
    return result


def execute_raw_query(spark: SparkSession, request: RawQueryRequest) -> RawQueryResponse:
    df = read_parquet_slices(spark, request.input_data_paths)
    df.createOrReplaceTempView("input")
    try:
        result = run_query_steps(spark, request.transform.queries)
        num = write_single_parquet(result, request.output_data_path, sorted_single=True)
    finally:
        # Drop 'input' and step views: on a shared long-lived session a
        # leftover view would let a later invocation's typo'd reference
        # silently resolve to this invocation's data.
        spark.catalog.dropTempView("input")
        for step in request.transform.queries:
            if step.alias:
                spark.catalog.dropTempView(step.alias)
    return RawQueryResponse(num_records=num)
