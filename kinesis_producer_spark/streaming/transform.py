"""Firehose-style record transform (SURVEY.md §2a rows 25-27).

The reference Lambda (acoustic_parser_lambda.py:54-70) takes
base64-encoded XML records, parses each into the fixed 41-column JSON
row, and returns ``{recordId, result: 'Ok', data: b64(json)}``. Here
the same contract is one declarative column chain — unbase64 → XML
parse → declared EAV pivot → to_json → base64 — with the failure
branch the Lambda lacks: a parse error yields
``result='ProcessingFailed'`` instead of killing the batch, matching
the Firehose transform protocol.

Usable identically on a batch DataFrame or inside a streaming
micro-batch (all operations are streaming-safe: no shuffle, fixed
schema).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_producer_spark.operators.eav_pivot import ENVELOPE_ATTRS, pivot_declared
from kinesis_producer_spark.sources.xml import parse_signal_messages


def firehose_transform(
    df: DataFrame,
    data_col: str | Column = "data",
    declared: list[str] | None = None,
    uom_for: list[str] | None = None,
) -> DataFrame:
    """b64(XML) in → b64(JSON) out, with per-record status.

    Adds: ``result`` ('Ok' | 'ProcessingFailed'), ``data_out``
    (base64 JSON of envelope attrs + declared readings).
    """
    data = F.col(data_col) if isinstance(data_col, str) else data_col

    decoded = df.withColumn("_xml", F.unbase64(data).cast("string"))
    parsed = parse_signal_messages(decoded, "_xml", mode="PERMISSIVE")
    wide = pivot_declared(parsed, declared=declared, uom_for=uom_for, keep_extras=False)
    # the declared readings with their _UoM companions, as the pivot appended them
    pivoted = wide.columns[len(parsed.columns) :]
    record = F.struct(*[F.col("envelope").getItem(a).alias(a) for a in ENVELOPE_ATTRS], *pivoted)
    ok = F.col("_corrupt_record").isNull()
    return wide.select(
        "*",
        F.when(ok, F.lit("Ok")).otherwise(F.lit("ProcessingFailed")).alias("result"),
        F.when(ok, F.base64(F.to_json(record).cast("binary"))).alias("data_out"),
    ).drop("_xml", "envelope", "readings", *pivoted)
