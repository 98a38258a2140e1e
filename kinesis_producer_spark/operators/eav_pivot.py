"""EAV→wide pivot (SURVEY.md §2a rows 10-11).

Declared mode mirrors the Lambda transform (reference
acoustic_parser_lambda.py:79-90): a fixed set of reading columns,
null-filled when absent, last write wins on duplicate attribute names,
``<name>_UoM`` companions whenever a UoM accompanies the reading.
Undeclared readings land in an ``extras`` map column — a fixed output
schema (streaming-safe) that still preserves the reference's
"silently added" information.

Dynamic mode mirrors ``SignalFlattener`` (reference
file_flattener.py:119-145): the column set is the union of attribute
names actually present (two passes: one ``key_vocabulary`` action
discovers the names and UoM names together, then the same projection
path).

``key_vocabulary`` is the one vocabulary-discovery step before any
dynamic-schema widen (this pivot, ``flatten.flatten_components``,
``pipelines.flatten_day``'s envelope keys): every key set a caller needs
comes from a single driver action, so an expensive upstream (the Python
XML parse) runs once for all of them.

Implementation: ``map_from_entries`` + per-key ``getItem`` — entirely
JVM-side, **zero shuffle** (the readings are already on their row;
contrast with groupBy().pivot() which would shuffle the fact table).
Last-write-wins needs ``spark.sql.mapKeyDedupPolicy=LAST_WIN``, set
here at plan-build time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The Lambda's declared reading schema (reference
# acoustic_parser_lambda.py:15-47): 28 value columns + 3 _UoM
# companions for weight / vertical_peak / speed (:49).
DECLARED_READINGS = [
    "SensorDataQualityDescription",
    "SiteTimeZoneId",
    "SiteName",
    "TrainDirection",
    "VehicleTag",
    "VehicleEndLeading",
    "TrackSide",
    "TrainAxleNumber",
    "VehicleAxleNumber",
    "VehicleSide",
    "RailBAMBearingFaultCode",
    "RailBAMWheelFaultCode",
    "RMSTotalDB",
    "RMSBandDB",
    "LooseFrettingDB",
    "RollerDB",
    "CupDB",
    "ConeDB",
    "NoisyDB",
    "RMSBandWheelflatDB",
    "WheelflatDB",
    "TrainVehicleNumber",
    "WHEEL_TEMPERATURE",
    "BEARING_TEMPERATURE",
    "weight",
    "vertical_peak",
    "speed",
    "BrokenSpringDefect",
]
READINGS_W_UOM = ["weight", "vertical_peak", "speed"]

# Envelope attributes (reference acoustic_parser_lambda.py:6-14).
ENVELOPE_ATTRS = [
    "vehicleIdentifier",
    "componentIdentifier",
    "positionInTrain",
    "typeOfReading",
    "readingTimestampUTC",
    "readingLocation",
    "sourceSystem",
]


def _maps(readings: Column) -> tuple[Column, Column]:
    """(name→value, name→uom) maps from the readings array."""
    vals = F.map_from_entries(
        F.transform(readings, lambda r: F.struct(r["name"].alias("key"), r["value"].alias("value")))
    )
    uoms = F.map_from_entries(
        F.transform(
            F.filter(readings, lambda r: r["uom"].isNotNull()),
            lambda r: F.struct(r["name"].alias("key"), r["uom"].alias("value")),
        )
    )
    return vals, uoms


def pivot_declared(
    df: DataFrame,
    readings_col: str | Column = "readings",
    declared: list[str] | None = None,
    uom_for: list[str] | None = None,
    keep_extras: bool = True,
) -> DataFrame:
    """Fixed-schema EAV pivot: one column per declared reading (+_UoM)."""
    df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    declared = DECLARED_READINGS if declared is None else declared
    uom_for = READINGS_W_UOM if uom_for is None else uom_for
    readings = F.col(readings_col) if isinstance(readings_col, str) else readings_col
    vals, uoms = _maps(readings)

    cols: list[Column] = []
    for name in declared:
        cols.append(vals.getItem(name).alias(name))
        if name in uom_for:
            cols.append(uoms.getItem(name).alias(f"{name}_UoM"))
    if keep_extras:
        declared_arr = F.array(*[F.lit(n) for n in declared])
        extras = F.map_filter(vals, lambda k, _: ~F.array_contains(declared_arr, k))
        cols.append(extras.alias("extras"))
    return df.select("*", *cols)


def pivot_dynamic(
    df: DataFrame,
    readings_col: str | Column = "readings",
) -> DataFrame:
    """Accreting-schema EAV pivot: columns = distinct attribute names.

    Pass 1 is one ``key_vocabulary`` action over the reading names and
    the UoM-bearing names together (tiny shuffle — the key domain, not
    the data); pass 2 reuses the zero-shuffle getItem path.

    BATCH ONLY: discovering the attribute vocabulary requires an
    action over the input, which Spark forbids on a stream (a stream's
    key domain is unbounded in time anyway — the schema could change
    every micro-batch). Streams use ``pivot_declared`` with an
    explicit schema (SURVEY §7 hard-part (b)); this guard keeps the
    failure mode a clear error instead of an AnalysisException from
    deep inside the collect.
    """
    if df.isStreaming:
        raise ValueError(
            "pivot_dynamic requires a batch DataFrame: attribute discovery "
            "needs an action, which streaming forbids — use pivot_declared "
            "with an explicit declared schema on streams"
        )
    readings = F.col(readings_col) if isinstance(readings_col, str) else readings_col
    vocab = key_vocabulary(df, **reading_keys(readings))
    return pivot_declared(
        df, readings, declared=vocab["names"], uom_for=vocab["uoms"], keep_extras=False
    )


def reading_keys(readings: Column) -> dict[str, Column]:
    """The key arrays ``pivot_dynamic`` discovers: reading names, and the
    names of readings that carry a UoM."""
    return {
        "names": F.transform(readings, lambda x: x["name"]),
        "uoms": F.transform(F.filter(readings, lambda x: x["uom"].isNotNull()), lambda x: x["name"]),
    }


def key_vocabulary(df: DataFrame, **key_arrays: Column) -> dict[str, list[str]]:
    """Sorted distinct non-null keys of each named string-array column,
    from ONE driver action.

    Each array's keys are tagged with its name, the tagged keys of all
    arrays are exploded once and one ``distinct().collect()`` returns
    them all. The collected set is bounded by the key vocabulary, not
    the data size, so the driver action is safe at any scale.
    """

    def tagged(tag: str, keys: Column) -> Column:
        keys = F.coalesce(keys, F.array().cast("array<string>"))
        return F.transform(keys, lambda k: F.struct(F.lit(tag).alias("tag"), k.alias("key")))

    rows = (
        df.select(F.explode(F.concat(*[tagged(t, k) for t, k in key_arrays.items()])).alias("e"))
        .select("e.tag", "e.key")
        .where(F.col("key").isNotNull())
        .distinct()
        .collect()
    )
    vocab: dict[str, list[str]] = {tag: [] for tag in key_arrays}
    for tag, key in rows:
        vocab[tag].append(key)
    return {tag: sorted(keys) for tag, keys in vocab.items()}


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    name_col: str = "name",
    value_col: str = "value",
) -> DataFrame:
    """Wide→EAV inverse (unpivot via stack) — round-trip partner for tests."""
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in value_cols)
    return df.selectExpr(
        *id_cols, f"stack({len(value_cols)}, {pairs}) AS ({name_col}, {value_col})"
    )
