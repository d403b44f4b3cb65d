"""Correctness checks on what the relay delivered. Run after the timed
window; nothing here is timed.

The sink the benchmark drives writes each micro-batch's ordered wire
frame to ``<sink>/batch_id=<n>/`` with one file per task, so a row's
delivery position is ``(batch_id, pos)`` with ``pos`` its row order on
read-back (a key's rows of one batch sit in one file, the output
partition its ordered shuffle sent them to).

Spark does the decoding (``from_wire`` of the sink, ``from_json`` of
the outbox payload) and hands back one narrow row per event; the
comparison itself runs in pandas on those rows:

* outbox rows: ``rep, id, uuid, external_id, statement, created_us,
  data``;
* sink rows: ``rep, batch_id, pos, uuid, key, external_id, statement,
  created_us, data, value_bytes``;

with every string and the typed payload replaced by its 64-bit
``xxhash64`` (NULL stays NULL), which keeps the rows small and the
joins on integers. Over a run's ~10^6 uuids a chance collision has
odds of about 10^-7.
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pg2kafka_spark.event import EVENT_SCHEMA
from pg2kafka_spark.operators.wire import from_wire


def read_sink(spark: SparkSession, path: str, rep: int = 0) -> DataFrame:
    """A sink directory as delivered rows in delivery order."""
    return (
        spark.read.parquet(path)
        .withColumn("pos", F.monotonically_increasing_id())
        .withColumn("rep", F.lit(rep))
    )


def read_outbox(spark: SparkSession, path: str, rep: int = 0) -> DataFrame:
    return spark.read.schema(EVENT_SCHEMA).parquet(path).withColumn("rep", F.lit(rep))


def union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _hashed(*names: str) -> list[Column]:
    return [F.when(F.col(c).isNotNull(), F.xxhash64(c)).alias(c) for c in names]


def outbox_rows(outbox: DataFrame, data_ddl: str) -> pd.DataFrame:
    """One row per produced event, payload typed by ``data_ddl``."""
    typed = outbox.withColumn("data", F.from_json("data", f"struct<{data_ddl}>"))
    return typed.select(
        "rep", "id", *_hashed("uuid", "external_id", "statement", "data"),
        F.unix_micros("created_at").alias("created_us"),
    ).toPandas()


def sink_rows(sink: DataFrame, data_ddl: str) -> pd.DataFrame:
    """One row per delivery, decoded with ``from_wire``, in delivery
    order."""
    rows = from_wire(sink, data_ddl).select(
        "rep", "batch_id", "pos", *_hashed("uuid", "key", "external_id", "statement", "data"),
        F.unix_micros("created_at").alias("created_us"),
        F.length("value").alias("value_bytes"),
    ).toPandas()
    return rows.sort_values(["rep", "batch_id", "pos"], kind="stable", ignore_index=True)


def _same(a: pd.Series, b: pd.Series) -> pd.Series:
    """Null-safe equality."""
    return (a == b) | (a.isna() & b.isna())


def delivery_report(outbox: pd.DataFrame, sink: pd.DataFrame) -> dict[str, int]:
    """Compare delivered rows (:func:`sink_rows`) with the outbox they
    came from (:func:`outbox_rows`).

    * ``missing``: outbox events never delivered;
    * ``extra``: delivered uuids the outbox does not hold;
    * ``dups``: redeliveries of a uuid beyond its first;
    * ``mismatched``: first deliveries whose ``from_wire`` decode
      (key, statement, created_at, typed data) differs from the outbox
      row;
    * ``reordered``: first deliveries of a non-NULL key whose outbox id
      is below an id delivered before it for that key.

    ``failed`` = missing + extra + mismatched + reordered.
    """
    dup = sink.duplicated(["rep", "uuid"])
    j = outbox.merge(
        sink[~dup], on=["rep", "uuid"], how="outer", suffixes=("_o", ""), indicator=True
    )
    both = j[j["_merge"] == "both"]
    same = (
        _same(both["external_id_o"], both["external_id"])
        & _same(both["external_id_o"], both["key"])
        & (both["statement_o"] == both["statement"])
        & (both["created_us_o"] == both["created_us"])
        & _same(both["data_o"], both["data"])
    )
    keyed = both[both["external_id_o"].notna()].sort_values(
        ["rep", "external_id_o", "batch_id", "pos"], kind="stable"
    )
    seen = keyed.groupby(["rep", "external_id_o"])["id"].cummax()
    prev = seen.groupby([keyed["rep"], keyed["external_id_o"]]).shift(1)
    out = {
        "produced": len(outbox),
        "missing": int((j["_merge"] == "left_only").sum()),
        "extra": int((j["_merge"] == "right_only").sum()),
        "mismatched": int((~same).sum()),
        "reordered": int((keyed["id"] < prev).sum()),
        "deliveries": len(sink),
        "dups": int(dup.sum()),
    }
    out["failed"] = out["missing"] + out["extra"] + out["mismatched"] + out["reordered"]
    return out


def reference_fold(rows, columns) -> dict[str, tuple]:
    """Fold ``(key, id, statement, data_json)`` events in id order the
    way a consumer applies pg2kafka's feed: INSERT/SNAPSHOT replace the
    row, UPDATE merges the changed columns (an explicit null sets the
    column to NULL), DELETE removes the key."""
    state: dict[str, dict] = {}
    for key, _id, statement, data in sorted(rows, key=lambda r: r[1]):
        if statement == "DELETE":
            state.pop(key, None)
        elif statement in ("INSERT", "SNAPSHOT"):
            state[key] = json.loads(data)
        else:
            state.setdefault(key, {}).update(json.loads(data))
    return {k: tuple(v.get(c) for c in columns) for k, v in state.items()}


def _norm(v):
    """One spelling per value on both sides of the fold comparison:
    the Spark fold yields JSON text, the reference yields parsed JSON."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return v
    return float(v) if isinstance(v, (int, float)) else v


def fold_mismatches(spark_rows: dict[str, tuple], reference: dict[str, tuple]) -> int:
    """Keys whose folded state differs between the two folds (a key on
    one side only counts once)."""
    bad = len(set(spark_rows) ^ set(reference))
    for k in set(spark_rows) & set(reference):
        if tuple(map(_norm, spark_rows[k])) != tuple(map(_norm, reference[k])):
            bad += 1
    return bad
