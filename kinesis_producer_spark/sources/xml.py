"""XML message parsing (SURVEY.md §2a rows 9-13).

Two document families, mirroring the reference's data model:

- **signal messages** (reference file_flattener.py:113-145,
  acoustic_parser_lambda.py:73-91): envelope of scalar child elements
  + an EAV ``readingCollection`` of
  ``<reading><attributeName/><attributeValue/><attributeUoM/></reading>``.
- **vehicleComponent documents** (reference file_flattener.py:57-107):
  document-level scalars + a recursive ``componentCollection`` /
  ``subcomponentCollection`` tree with per-component EAV attributes.

Parsing is genuinely non-relational (namespace walk, recursion of
unbounded depth), so this is one of the few sanctioned Python paths:
an Arrow-batched pandas UDF per document — streaming through
partitions, never collecting to the driver. Everything downstream
(pivot, explode, flatten) is built-in DataFrame ops.

Error modes follow Spark's reader convention (SURVEY §2a row 15):
``PERMISSIVE`` captures the failure in ``_corrupt_record``;
``FAILFAST`` raises at execution time via ``raise_error``.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SENSOR_NS = "{http://uptake.com/bhp/1/sensors}"
COMPONENT_NS = "{http://www.uptake.com/bhp/1/vehicleComponent}"

# Splitter end-tags — the raw feeds use an NS1: prefix
# (reference file_flattener.py:61,113).
SIGNAL_END_TAG = "</NS1:message>"
COMPONENT_END_TAG = "</NS1:vehicleComponent>"

_NS_RE = re.compile(r"^\{[^}]*\}")

READING_STRUCT = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("uom", T.StringType()),
    ]
)

SIGNAL_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("envelope", T.MapType(T.StringType(), T.StringType())),
        T.StructField("readings", T.ArrayType(READING_STRUCT)),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

COMPONENT_STRUCT = T.StructType(
    [
        T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        T.StructField("parent_code", T.StringType()),
        T.StructField("depth", T.IntegerType()),
    ]
)

COMPONENT_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("doc_attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("components", T.ArrayType(COMPONENT_STRUCT)),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def _strip_ns(tag: str) -> str:
    return _NS_RE.sub("", tag)


def _parse_signal_one(xml: str) -> dict:
    """One signal message → envelope map + EAV reading list.

    Walk order follows the reference (file_flattener.py:119-145): root
    children are payload containers; their children are either the EAV
    ``readingCollection`` or scalar envelope elements. Unknown nested
    collections are an error (reference :136,142).
    """
    root = ET.fromstring(xml)
    envelope: dict[str, str | None] = {}
    readings: list[dict] = []
    for parent in root:
        for e in parent:
            if _strip_ns(e.tag) == "readingCollection":
                for r in e:
                    name = value = uom = None
                    for at in r:
                        t = _strip_ns(at.tag)
                        if t == "attributeName":
                            name = at.text
                        elif t == "attributeValue":
                            value = at.text
                        elif t == "attributeUoM":
                            uom = at.text
                        else:
                            raise ValueError(f"Unknown reading attribute: {at.tag}")
                    readings.append({"name": name, "value": value, "uom": uom})
            elif len(e) > 0:
                raise ValueError(f"Unknown collection of elements: {e.tag}")
            else:
                envelope[_strip_ns(e.tag)] = e.text
    return {"envelope": envelope, "readings": readings, "_corrupt_record": None}


def _parse_component_one(xml: str) -> dict:
    """One vehicleComponent document → doc attrs + flattened tree.

    Recursive walk per reference file_flattener.py:84-107: each
    ``component`` yields one record (scalars + EAV attrs + parent_code);
    ``subcomponentCollection`` recurses with this component's code.
    EAV attributes may omit the value element (1-element form → None,
    reference :95-98).
    """
    root = ET.fromstring(xml)
    doc_attrs: dict[str, str | None] = {}
    out: list[dict] = []

    def walk(component: ET.Element, parent_code: str | None, depth: int) -> None:
        fields: dict[str, str | None] = {}
        code = None
        for el in component:
            if _strip_ns(el.tag) == "componentCode":
                code = el.text
        for el in component:
            tag = _strip_ns(el.tag)
            if tag == "subcomponentCollection":
                for sub in el:
                    walk(sub, code, depth + 1)
            elif tag == "componentAttributeCollection":
                for at in el:
                    children = list(at)
                    if len(children) == 2:
                        fields[children[0].text] = children[1].text
                    elif len(children) == 1:
                        fields[children[0].text] = None
                    else:
                        raise ValueError(f"Unknown attribute structure: {children}")
            elif len(el) > 0:
                raise ValueError(f"Unknown collection: {el.tag}")
            else:
                fields[tag] = el.text
        out.append({"fields": fields, "parent_code": parent_code, "depth": depth})

    for e in root:
        if len(e) > 0:
            if _strip_ns(e.tag) == "componentCollection":
                for component in e:
                    walk(component, None, 0)
            else:
                raise ValueError(f"Unknown collection of elements: {e.tag}")
        else:
            doc_attrs[_strip_ns(e.tag)] = e.text
    return {"doc_attrs": doc_attrs, "components": out, "_corrupt_record": None}


def _batch_parser(parse_one, empty: dict):
    def run(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            rows = []
            for xml in s:
                if xml is None:
                    rows.append({**empty, "_corrupt_record": "null input"})
                    continue
                try:
                    rows.append(parse_one(xml))
                except Exception as exc:  # noqa: BLE001 — routed to _corrupt_record
                    rows.append({**empty, "_corrupt_record": f"{type(exc).__name__}: {exc}"})
            yield pd.DataFrame(rows)

    return run


# asNondeterministic: the parsers ARE pure functions of their input,
# but marking them nondeterministic stops Catalyst from DUPLICATING
# the whole parse chain when a filter and a projection both consume
# parts of the `_parsed` struct — q45's executed plan carried TWO
# ArrowEvalPython nodes (one for the result-filter branch, one for the
# data_out projection), re-running b64+XML parse over the full input
# twice (round-9 measurement: q45 5.6s → 1.6s min-of-5 at sf0.1, rows
# identical). The only optimization this disables is pushing filters
# THROUGH the parse projection — which is exactly the rewrite that
# caused the double eval; source-column filters in every pipeline are
# applied before the parse.
_signal_udf = F.pandas_udf(
    _batch_parser(_parse_signal_one, {"envelope": None, "readings": None}),
    SIGNAL_PARSED_SCHEMA,
).asNondeterministic()
_component_udf = F.pandas_udf(
    _batch_parser(_parse_component_one, {"doc_attrs": None, "components": None}),
    COMPONENT_PARSED_SCHEMA,
).asNondeterministic()


from kinesis_producer_spark.tables import fan_out  # noqa: E402  (shared: re-export)


def _parse(df: DataFrame, xml_col: str | Column, udf, fields: list[str], mode: str) -> DataFrame:
    """``df`` plus the UDF's ``fields`` and ``_corrupt_record``, in one
    ``select``; under FAILFAST the corrupt-record column raises."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode}")
    corrupt = F.col("_parsed._corrupt_record")
    if mode == "FAILFAST":
        corrupt = F.when(
            corrupt.isNotNull(), F.raise_error(F.concat(F.lit("Malformed XML: "), corrupt))
        ).otherwise(F.lit(None))
    parsed = fan_out(df).withColumn("_parsed", udf(_col(xml_col)))
    return parsed.select(
        "*", *[f"_parsed.{f}" for f in fields], corrupt.alias("_corrupt_record")
    ).drop("_parsed")


def parse_signal_messages(
    df: DataFrame, xml_col: str | Column = "payload", mode: str = "PERMISSIVE"
) -> DataFrame:
    """Add ``envelope`` / ``readings`` / ``_corrupt_record`` columns."""
    return _parse(df, xml_col, _signal_udf, ["envelope", "readings"], mode)


def parse_component_docs(
    df: DataFrame, xml_col: str | Column = "payload", mode: str = "PERMISSIVE"
) -> DataFrame:
    """Add ``doc_attrs`` / ``components`` / ``_corrupt_record`` columns."""
    return _parse(df, xml_col, _component_udf, ["doc_attrs", "components"], mode)


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c
