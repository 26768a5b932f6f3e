"""JSON record normalization: API names -> snake_case columns.

The reference relies on dlt's implicit schema inference + name
normalization (SURVEY.md §1.3): the API yields ``Minutes1UTC``,
``CO2Emission``, ``ProductionGe100MW`` … while silver SQL reads
``minutes1_utc``, ``co2_emission``, ``production_ge100_mw``
(bronze_ingest.py:8-13 vs silver_transform.py:64,88-101).  This
module makes that normalization explicit and deterministic, and pins
the bronze schema to a StructType so re-inference can never drift.
"""

from __future__ import annotations

import functools
import hashlib
import json
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, MapType, StringType,
                               StructField, StructType, TimestampType)


@functools.lru_cache(maxsize=1024)
def snake_case(name: str) -> str:
    """camelCase/PascalCase/acronym -> snake_case, matching the dlt
    normalizations the reference depends on (memoized: a feed repeats
    the same few field names on every record):

    >>> snake_case("Minutes1UTC")
    'minutes1_utc'
    >>> snake_case("CO2Emission")
    'co2_emission'
    >>> snake_case("ProductionGe100MW")
    'production_ge100_mw'
    >>> snake_case("ExchangeDK1_DE")
    'exchange_dk1_de'
    """
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1_\2", s)
    return re.sub(r"__+", "_", s).lower()


#: The 16 bronze measure columns (FIXTURES.md §1); ts parsed from the
#: API's ISO string at minute resolution (bronze_ingest.py:26-30).
MEASURES = [
    "co2_emission", "production_ge100_mw", "production_lt100_mw",
    "solar_power", "offshore_wind_power", "onshore_wind_power",
    "exchange_sum", "exchange_dk1_de", "exchange_dk2_de",
    "exchange_dk1_nl", "exchange_dk1_gb", "exchange_dk1_no",
    "exchange_dk1_se", "exchange_dk2_se", "exchange_dk1_dk2",
]

BRONZE_SCHEMA = StructType(
    [StructField("minutes1_utc", TimestampType())]
    + [StructField(m, DoubleType()) for m in MEASURES])

#: Lineage / drift columns appended to every bronze row, mirroring
#: dlt's implicit behavior the reference depends on (SURVEY §1.3:
#: dlt appends ``_dlt_load_id``/``_dlt_id``; dlt silently WIDENS the
#: schema when the API adds a field — ``dlt.pipeline.run``,
#: bronze_ingest.py:72-75).  A pinned schema must not silently DROP
#: a new API field instead, so unknown keys are quarantined into
#: ``_extras`` and every batch is traceable by ``_load_id``.
BRONZE_LINEAGE_FIELDS = [
    StructField("_extras", MapType(StringType(), StringType())),
    StructField("_load_id", StringType()),
]

BRONZE_FULL_SCHEMA = StructType(
    list(BRONZE_SCHEMA.fields) + BRONZE_LINEAGE_FIELDS)


def batch_load_id(records: list[dict]) -> str:
    """Content-addressed load id: md5 over the canonical JSON of the
    batch.  Deterministic, so a re-ingest of identical content gets
    the same id (idempotency-friendly) while any differing batch is
    uniquely traceable — the analog of dlt's ``_dlt_load_id``."""
    payload = json.dumps(records, sort_keys=True, default=str)
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def _minute(ts):
    """The API timestamp truncated to its minute (bronze_ingest.py:
    26-30: fromisoformat + strftime '%Y-%m-%dT%H:%M')."""
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
        ts = ts.replace(tzinfo=None)
    if ts is not None:
        ts = ts.replace(second=0, microsecond=0)
    return ts


def first_minute(records: list[dict]) -> datetime | None:
    """The earliest bronze minute of ``records`` (as
    :func:`records_to_bronze` stores it: a naive minute names the UTC
    minute) as an aware UTC datetime; None when no record has one."""
    minutes = [_minute(v) for rec in records for k, v in rec.items()
               if v is not None and snake_case(k) == "minutes1_utc"]
    return min((m.replace(tzinfo=timezone.utc) if m.tzinfo is None
                else m.astimezone(timezone.utc) for m in minutes),
               default=None)


def records_to_bronze(spark: SparkSession, records: list[dict],
                      load_id: str | None = None) -> DataFrame:
    """API JSON dicts -> typed, snake_cased bronze DataFrame.

    Timestamps arrive as ISO strings with optional Z suffix and are
    truncated to minute resolution exactly like
    bronze_ingest.py:26-30 (fromisoformat + strftime '%Y-%m-%dT%H:%M').

    Keys outside the pinned measure schema are NOT dropped: they are
    captured as strings in the ``_extras`` map (schema drift made
    visible instead of silent loss), and each row carries the batch
    ``_load_id`` so a bad batch can be identified and surgically
    deleted from bronze.

    The batch is built column by column into one ``pyarrow.Table``
    and handed to Spark in one Arrow stream: no per-row Python
    conversion on the way into the JVM.  The minute column is typed
    ``timestamp[us, UTC]``, so a naive minute is read as the UTC
    minute it names, whatever the local time zone of this process.
    """
    import pyarrow as pa

    lid = load_id if load_id is not None else batch_load_id(records)
    known = set(BRONZE_SCHEMA.names)
    minutes = []
    measures: dict[str, list] = {m: [] for m in MEASURES}
    extras_col = []
    for rec in records:
        row = {snake_case(k): v for k, v in rec.items()}
        minutes.append(_minute(row.get("minutes1_utc")))
        for m, col in measures.items():
            v = row.get(m)
            col.append(None if v is None else float(v))
        extras = [(k, str(v)) for k, v in sorted(row.items())
                  if k not in known and v is not None]
        extras_col.append(extras or None)
    table = pa.Table.from_arrays(
        [pa.array(minutes, pa.timestamp("us", tz="UTC"))]
        + [pa.array(measures[m], pa.float64()) for m in MEASURES]
        + [pa.array(extras_col, pa.map_(pa.string(), pa.string())),
           pa.array([lid] * len(records), pa.string())],
        names=BRONZE_FULL_SCHEMA.names)
    return spark.createDataFrame(table, BRONZE_FULL_SCHEMA)


def normalize_columns(df: DataFrame) -> DataFrame:
    """Rename every column of an inferred DataFrame to snake_case."""
    return df.toDF(*[snake_case(c) for c in df.columns])
