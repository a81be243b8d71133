"""Record normalization: parse + standardize name components as columns.

Spark shape of the reference's standardize/parse stage
(``src/standardizer.py``, ``src/parser.py``, ``src/csv_handler.py:129-169``):
everything is a column expression or one Arrow-vectorized UDF; Catalyst keeps
pruning/pushdown intact because outputs are flat columns, not structs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from name_matching_spark.functions.udfs import make_normalize_udf

__all__ = ["LinkageSchema", "normalize_records", "standardize_date"]

# The 5 accepted input date formats (``src/csv_handler.py:111-117``), tried
# in order, Spark datetime-pattern syntax.
DATE_FORMATS = ["yyyy-MM-dd", "MM/dd/yyyy", "dd/MM/yyyy", "MMMM d, yyyy", "dd-MMM-yyyy"]


@dataclass
class LinkageSchema:
    """Column mapping from an input table to the linkage record shape —
    the Spark analog of the reference's ingest column-mapping layer
    (``src/csv_handler.py:15-40``, CLI ``Name=first_name`` syntax at
    ``src/cli.py:91-96``)."""

    id_col: str = "id"
    first_name: str = "first_name"
    middle_name_last_name: str = "middle_name_last_name"
    birthdate: str | None = "birthdate"
    geo_fields: list[str] = field(default_factory=lambda: ["province_name", "city_name"])


def standardize_date(col: Column) -> Column:
    """Coerce the 5 accepted formats to a ``yyyy-MM-dd`` string; unparseable
    -> NULL (``src/csv_handler.py:129-163`` semantics, minus test shims)."""
    # try_to_date: unparseable -> NULL (ANSI-safe), matching pd.to_datetime
    # errors="coerce" in the reference
    parsed = F.coalesce(*[F.try_to_date(col, fmt) for fmt in DATE_FORMATS])
    return F.date_format(parsed, "yyyy-MM-dd")


def normalize_records(df: DataFrame, schema: LinkageSchema | None = None) -> DataFrame:
    """Produce the normalized linkage frame.

    Output columns: ``record_id``, standardized parsed components
    (``first_std``/``middle_std``/``last_std``), ``full_std`` (space-join of
    non-empty components, ``src/name_matcher.py:177-178``), ``sorted_full``
    (token-sorted key — computed JVM-side with array_sort, byte order ==
    Python codepoint sort on these folded strings), optional
    ``birthdate_std``, and ``<geo>_std`` per configured geo field.
    """
    schema = schema or LinkageSchema()

    # one Python node per record: parse and every standardize run in one
    # fused Arrow UDF, the rest of the record is JVM expressions
    geo = (
        [F.struct(*[F.col(g).alias(f"g{i}") for i, g in enumerate(schema.geo_fields)])]
        if schema.geo_fields
        else []
    )
    normalized = make_normalize_udf(schema.geo_fields)(
        F.col(schema.first_name), F.col(schema.middle_name_last_name), *geo
    )
    norm = F.col("_norm")
    out = df.withColumn("_norm", normalized).select(
        F.col(schema.id_col).alias("record_id"),
        *[norm.getField(c).alias(c) for c in ("first_std", "middle_std", "last_std")],
        *(
            [standardize_date(F.col(schema.birthdate)).alias("birthdate_std")]
            if schema.birthdate
            else []
        ),
        *[norm.getField(f"{g}_std").alias(f"{g}_std") for g in schema.geo_fields],
    )

    # full name = " ".join(filter(None, [first, middle, last])) — concat_ws
    # skips NULLs, so map "" -> NULL first (src/name_matcher.py:177-178).
    full = F.concat_ws(
        " ",
        F.nullif(F.col("first_std"), F.lit("")),
        F.nullif(F.col("middle_std"), F.lit("")),
        F.nullif(F.col("last_std"), F.lit("")),
    )
    out = out.withColumn("full_std", full)
    # Python str.split() (the scalar oracle's tokenizer) drops empty tokens;
    # standardization can leave interior double spaces (e.g. "cruz & santos"
    # -> "cruz  santos"), so F.split would emit "" elements that array_sort
    # places first, corrupting both the similarity key and the token_sorted
    # blocking key. Filter empties before sorting. (NB: keep the lambda
    # single-arg — a second param receives the element index.)
    tokens = F.filter(F.split(F.col("full_std"), " "), lambda x: x != F.lit(""))
    out = out.withColumn(
        "sorted_full",
        F.when(F.col("full_std") == "", F.lit("")).otherwise(
            F.array_join(F.array_sort(tokens), " ")
        ),
    )
    return out
