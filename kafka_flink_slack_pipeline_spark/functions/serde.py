"""Serde operators (SURVEY.md §2.2): quoted-printable, header parse, Avro,
base64.

  D1  quoted-printable decode     kafkaProducer.js:3,127   → Python UDF
                                  (no Spark built-in; P17 fallback inside)
  D2  UTF-8 decode                kafkaProducer.js:128     → F.decode
  D3  Avro serialize              kafkaProducer.js:69      → to_avro
  D4  Avro deserialize            kafkaConsumer.js:61      → from_avro
  D6  base64 encode               slackEventServer.js:174  → F.base64
  D7  subject header parse        kafkaProducer.js:119-121 → column regex

Avro needs the spark-avro module on the classpath; `avro_available()`
probes once so callers can fall back to JSON serde in environments
without it (tests skip accordingly).
"""

from __future__ import annotations

import quopri

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODE_ERROR_SENTINEL = "(Unable to decode email body)"  # P17, kafkaProducer.js:200


def _qp_decode_one(raw: str | None) -> str | None:
    if raw is None:
        return None
    try:
        return quopri.decodestring(raw.encode("utf-8")).decode("utf-8")
    except Exception:  # noqa: BLE001 — mirrors the reference's catch-all
        return DECODE_ERROR_SENTINEL


@F.pandas_udf(T.StringType())
def quoted_printable_decode(raw: pd.Series) -> pd.Series:
    """D1 + P17 — decode quoted-printable; sentinel body on failure
    (kafkaProducer.js:126-128,198-201). Arrow-batched: serialization cost
    is per-batch, not per-row — the decode itself has no vectorized form."""
    return raw.map(_qp_decode_one)


def parse_subject_header(header_raw: Column) -> Column:
    """D7 — extract + unfold the Subject header value from a raw header
    block (Imap.parseHeader equivalent for the one header the reference
    fetches; kafkaProducer.js:103,119)."""
    folded = F.regexp_extract(header_raw, r"(?im)^subject:[ \t]*(.*(?:\n[ \t]+.*)*)", 1)
    return F.regexp_replace(folded, r"\n[ \t]+", " ")


def avro_available(spark: SparkSession) -> bool:
    """Probe for the spark-avro module (not bundled in pip pyspark)."""
    try:
        from pyspark.sql.avro.functions import to_avro

        df = spark.createDataFrame([(1,)], "seqno int")
        df.select(to_avro(F.struct("seqno"))).collect()
        return True
    except Exception:  # noqa: BLE001
        return False


def email_to_avro(email_struct: Column) -> Column:
    """D3 — struct<seqno,subject,body> → Avro bytes (kafkaProducer.js:69)."""
    from pyspark.sql.avro.functions import to_avro

    from ..schemas import EMAIL_AVRO_JSON

    return to_avro(email_struct, EMAIL_AVRO_JSON)


def email_from_avro(value: Column) -> Column:
    """D4 — Avro bytes → struct (kafkaConsumer.js:61)."""
    from pyspark.sql.avro.functions import from_avro

    from ..schemas import EMAIL_AVRO_JSON

    return from_avro(value, EMAIL_AVRO_JSON)


def email_to_json(email_struct: Column) -> Column:
    """JSON fallback serde for environments without spark-avro."""
    return F.to_json(email_struct).cast("binary")


def email_from_json(value: Column) -> Column:
    from ..schemas import EMAIL_SCHEMA

    return F.from_json(value.cast("string"), EMAIL_SCHEMA)
