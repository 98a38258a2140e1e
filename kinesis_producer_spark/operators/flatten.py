"""Recursive hierarchy flatten → adjacency list (SURVEY.md §2a rows 13-14).

``sources.xml.parse_component_docs`` already turned each document into
``doc_attrs`` + a ``components`` array (the recursion happens inside
the Arrow-batched parser, streaming per document — depth is bounded by
document size, not cluster memory). This operator is the relational
half: explode the array, spread the document scalars onto every row
(the reference's parent-attr denormalization, file_flattener.py:82),
and widen the per-component field maps to columns.

Column discovery (dynamic schema) is one ``eav_pivot.key_vocabulary``
action over the field keys and the document keys together — the key
*vocabulary*, not the data — so the driver action stays O(schema) and
the parse upstream runs once for both key sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_producer_spark.operators.eav_pivot import key_vocabulary


def flatten_components(
    parsed: DataFrame,
    id_cols: list[str] | None = None,
    field_cols: list[str] | None = None,
    include_depth: bool = False,
) -> DataFrame:
    """One output row per component at any depth.

    ``id_cols``: passthrough columns from the input (e.g. doc_id).
    ``field_cols``: explicit component field columns; None → discover
    the union of keys (reference's pd.DataFrame ragged union,
    file_flattener.py:40-45).
    """
    id_cols = id_cols or []
    comp = F.explode("components").alias("component")
    exploded = parsed.select(*id_cols, "doc_attrs", comp)

    keys = {"doc": F.map_keys("doc_attrs")}
    if field_cols is None:
        keys["fields"] = F.map_keys("component.fields")
    vocab = key_vocabulary(exploded, **keys)
    doc_keys = vocab["doc"]
    field_cols = vocab.get("fields", field_cols)

    cols = [*id_cols]
    # document-level scalars broadcast onto every component row
    cols += [F.col("doc_attrs").getItem(k).alias(k) for k in doc_keys]
    cols += [F.col("component.fields").getItem(k).alias(k) for k in field_cols]
    cols += [F.col("component.parent_code").alias("parent_code")]
    if include_depth:
        cols += [F.col("component.depth").alias("depth")]
    return exploded.select(*cols)
