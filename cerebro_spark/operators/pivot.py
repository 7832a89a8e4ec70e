"""Long↔wide reshaping of the point model (SURVEY Q5, T21).

- ``pivot_fields`` — the Flux ``pivot(rowKey:["_time"], columnKey:["_field"],
  valueColumn:"_value")`` analog (reference `client.py:85-90`).
- ``unpivot_to_points`` — wide row → narrow points (reference `tools.py:392-399`,
  `lco.py:102-113`): every value column becomes an entry in the ``fields`` map.

Scale notes: pivot with an explicit ``values=`` list avoids the extra
distinct-scan Spark otherwise runs to discover pivot columns; the groupBy
shuffles once on (time, tags).  Unpivot is narrow (no shuffle).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pivot_fields(
    long_df: DataFrame,
    field_col: str = "field",
    value_col: str = "value",
    row_keys: list[str] | None = None,
    values: list[str] | None = None,
) -> DataFrame:
    """Long→wide pivot: one row per ``row_keys`` combo, one column per field
    name, cell = first value (Flux pivot keeps the single point's value).
    """
    row_keys = row_keys or ["time"]
    grouped = long_df.groupBy(*row_keys)
    p = grouped.pivot(field_col, values) if values else grouped.pivot(field_col)
    return p.agg(F.first(value_col, ignorenulls=True))


def unpivot_to_points(
    df: DataFrame,
    measurement: str,
    time_col: str = "ts",
    tags: dict[str, str] | None = None,
    value_cols: list[str] | None = None,
    bucket: str | None = None,
) -> DataFrame:
    """T21 — pack a wide row into one canonical point: numeric value columns →
    the ``fields`` map (reference row→dict at `tools.py:392-399`)."""
    value_cols = value_cols or [
        f.name
        for f in df.schema.fields
        if f.name != time_col and f.dataType.typeName() in ("double", "float", "integer", "long")
    ]
    tag_map = F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in (tags or {}).items())
    )
    field_map = F.map_filter(
        F.create_map(
            *chain.from_iterable(
                (F.lit(c), F.col(c).cast("double")) for c in value_cols
            )
        ),
        lambda _, v: v.isNotNull(),
    )
    return df.select(
        F.lit(measurement).alias("measurement"),
        tag_map.alias("tags"),
        field_map.alias("fields"),
        F.lit(None).cast("map<string,string>").alias("fields_str"),
        F.lit(None).cast("map<string,boolean>").alias("fields_bool"),
        F.col(time_col).cast("timestamp").alias("time"),
        F.lit(bucket).alias("bucket"),
    )
