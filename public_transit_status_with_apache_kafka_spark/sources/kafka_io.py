"""Confluent wire-format helpers and Kafka payload decoders
(SURVEY.md S5-S7).

The reference consumes four topic groups (consumers/server.py:55-87):
Avro with Confluent framing (arrivals — regex multi-topic pattern S7 —
and weather) and schemaless JSON (stations table, TURNSTILE_SUMMARY).
Each maps to a decode transform over the Kafka source schema; the
transforms are pure DataFrame functions, so they run unchanged on the
simulated broker's ``kafkasim`` stream (sources/kafka_sim.py, which
also carries topic patterns, offsets and back-pressure) and on batch
DataFrames of synthetic bytes in tests.

Scale notes (100 TB design point):
  - framing strip + JSON parse are JVM Column expressions (codegen);
    the Avro fallback decode is an Arrow-batched mapInPandas, used only
    when the spark-avro jar is absent.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avro_codec import _parse_schema, decode_record

#: S7 — the reference's multi-topic subscription regex
#: (consumers/server.py:76-80)
ARRIVALS_TOPIC_PATTERN = r"^org\.chicago\.cta\.station\.arrivals\..*"

_AVRO_TO_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "bytes": T.BinaryType(),
}


def avro_struct_type(schema_json: str | dict) -> T.StructType:
    """Spark StructType for a flat Avro record schema (null unions ->
    nullable fields), e.g. producers/models/schemas/arrival_value.json."""
    fields = []
    for name, t in _parse_schema(schema_json):
        if isinstance(t, list):
            branch = next(b for b in t if b != "null")
            fields.append(T.StructField(name, _AVRO_TO_SPARK[branch], True))
        else:
            fields.append(T.StructField(name, _AVRO_TO_SPARK[t], t == "null"))
    return T.StructType(fields)


# ------------------------------------------------------ Confluent framing

def confluent_schema_id(value: Column | str) -> Column:
    """4-byte big-endian schema id from a Confluent-framed message
    (bytes 2-5 after the 0x00 magic byte)."""
    c = F.col(value) if isinstance(value, str) else value
    return F.conv(F.hex(F.substring(c, 2, 4)), 16, 10).cast("int")


def strip_confluent_header(value: Column | str) -> Column:
    """Avro payload after the 5-byte Confluent header (magic + schema id).

    Pure Column expression — this is the `substring(value, 6, ...)` strip
    SURVEY §1.2 calls out; stays inside whole-stage codegen."""
    c = F.col(value) if isinstance(value, str) else value
    return F.substring(c, 6, 2147483647)


# ------------------------------------------------------------- decoding

def decode_confluent_avro(
    df: DataFrame,
    value_schema_json: str | dict,
    keep: tuple[str, ...] = ("topic", "timestamp"),
) -> DataFrame:
    """Decode Confluent-framed Avro `value` bytes into typed columns.

    Prefers the JVM ``from_avro`` (spark-avro module) when available;
    otherwise falls back to an Arrow-batched mapInPandas over the pure-
    Python codec (sources/avro_codec.py). Both consume the output of
    :func:`strip_confluent_header`.
    """
    payload = df.select(*keep, strip_confluent_header("value").alias("payload"))
    value_type = avro_struct_type(value_schema_json)

    try:  # JVM fast path — requires the external spark-avro jar
        from pyspark.sql.avro.functions import from_avro  # noqa: PLC0415

        import json as _json

        schema_str = (
            value_schema_json
            if isinstance(value_schema_json, str)
            else _json.dumps(value_schema_json)
        )
        decoded = payload.select(*keep, from_avro("payload", schema_str).alias("v"))
        decoded.select("v.*").schema  # force analysis: raises if jar missing
        return decoded.select(*keep, "v.*")
    except Exception:  # jar absent -> portable python codec
        pass

    fields = _parse_schema(value_schema_json)
    out_schema = T.StructType(
        [payload.schema[k] for k in keep] + list(value_type.fields)
    )

    def _decode(batches: Iterator[Any]) -> Iterator[Any]:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            recs = [decode_record(b, fields) for b in pdf["payload"]]
            dec = pd.DataFrame.from_records(recs, columns=[n for n, _ in fields])
            base = pdf[list(keep)].reset_index(drop=True)
            yield pd.concat([base, dec], axis=1)

    return payload.mapInPandas(_decode, schema=out_schema)


def decode_json_value(
    df: DataFrame,
    schema: T.StructType,
    keep: tuple[str, ...] = ("topic", "timestamp"),
) -> DataFrame:
    """S6/S9: parse JSON `value` bytes into typed columns.

    PERMISSIVE mode: malformed rows yield a struct of nulls (never a null
    struct) — F6 drops them by null-checking the first required field."""
    parsed = df.select(
        *keep, F.from_json(F.col("value").cast("string"), schema).alias("v")
    )
    first_field = schema.fields[0].name
    return parsed.filter(F.col(f"v.{first_field}").isNotNull()).select(*keep, "v.*")
