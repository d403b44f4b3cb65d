"""Batch/stream source and sink constructors for real deployments.

The reference's I/O surface is: Postgres in (libpq,
eventqueue/event_queue.go), Kafka out (librdkafka, main.go:179-201).
The engine's equivalents, kept as thin option-builders so every knob
is visible and testable without a live server:

* Postgres  → ``spark.read.jdbc`` with range partitioning (a snapshot
  scan O1 at scale must split: one JDBC cursor is the reference's
  single-threaded loop all over again);
* Kafka out → producer options mirroring the reference's config map:
  snappy compression and the Java-compatible murmur2 default
  partitioner (main.go:190-195) so key placement matches what a
  pg2kafka consumer already observes.

Nothing here imports a driver: JDBC/Kafka jars are deploy-time
``--packages`` concerns; these builders are pure configuration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_postgres_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetch_size: int = 10_000,
) -> DataFrame:
    """O1 snapshot source: partitioned JDBC read of a Postgres table.

    With ``partition_column`` (a numeric/indexed column — the
    external-id or a serial pk), Spark issues ``num_partitions``
    range-bounded cursors in parallel; without it the scan is one
    cursor (only acceptable for dim-sized tables). ``fetch_size``
    bounds per-round-trip rows like the reference's LIMIT pages.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC reads need lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def kafka_sink_options(brokers: str) -> dict[str, str]:
    """O17 producer config, mirroring main.go:179-201: snappy
    compression, acks from all replicas, and ordering under retries via
    the idempotent producer (the batched equivalent of the reference's
    one-in-flight sync ack — turning it off would break per-key order).
    The default partitioner is already murmur2-compatible with Java
    clients, so keyed placement matches pg2kafka's. The settings are
    the contract, not options; a deployment that must differ edits the
    returned dict."""
    return {
        "kafka.bootstrap.servers": brokers,
        "kafka.compression.type": "snappy",
        "kafka.acks": "all",
        "kafka.enable.idempotence": "true",
    }


__all__ = [
    "read_postgres_table",
    "kafka_sink_options",
    "read_jsonl",
    "read_csv",
    "split_quarantine",
]


# ---------------------------------------------------------------------------
# Text-format corpus sources (JSONL / CSV) — the training-data
# interchange formats. Two rules make these safe at 100 TB:
#
# 1. ALWAYS pass the schema. Inference is a full extra scan of the
#    data before the real one (and for JSON it can widen types by
#    shard, making the answer depend on which files an executor saw).
# 2. Never let one malformed line kill a 10-hour job OR silently
#    vanish: PERMISSIVE mode + a corrupt-record column turns bad
#    lines into quarantinable rows the pipeline can count, sample,
#    and alert on.
# ---------------------------------------------------------------------------

CORRUPT_COL = "_corrupt_record"


def _parse_text(
    raw: DataFrame, parser, schema: str, opts: dict
) -> DataFrame:
    from pyspark.sql.types import StructType

    if CORRUPT_COL in StructType.fromDDL(schema).names:
        raise ValueError(
            f"schema must not declare {CORRUPT_COL!r}: the reader appends "
            "its own quarantine column of that name (pass the data schema "
            "only, or rename the colliding column)"
        )
    full = f"{schema}, {CORRUPT_COL} string"
    return raw.select(parser("value", full, opts).alias("__r")).select(
        "__r.*"
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Schema-pinned JSONL reader with quarantine capture: returns
    rows of ``schema`` plus ``_corrupt_record`` (NULL for clean rows,
    the raw line for malformed ones).

    Implementation is a TEXT scan + ``from_json`` rather than the
    native ``.json()`` reader: the native reader's internal corrupt
    column cannot be counted or selected on its own
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN — and Spark's suggested
    workaround, caching the parsed frame, is exactly what a 100 TB
    scan must not do), while ``from_json`` with the corrupt column in
    its struct has no such restriction. Same JVM-side JacksonParser,
    splits by newline like any text source. Trade (documented, not
    hidden): the native reader prunes unread fields inside the
    parser; this reader parses the declared struct per line — for the
    ingest path this serves (read once → quarantine → land columnar),
    the very next step writes parquet, where pruning lives."""
    from pyspark.sql import functions as F

    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    return _parse_text(spark.read.text(path), F.from_json, schema, opts)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """Schema-pinned CSV reader, same quarantine contract and text-
    scan rationale as :func:`read_jsonl` (``from_csv`` is the same
    UnivocityParser the native reader uses). Quoted-NEWLINE fields are
    out of contract (a multiLine CSV cannot split inside a file and
    single-threads the scan at 100 TB — convert such corpora, don't
    read them); in-field quoted separators and quotes parse fine.

    ``header=True`` handles lines that RENDER as the schema's header
    row — the plain form Spark's csv writer emits plus its quoted and
    CRLF variants (a writer that quotes every field, or a DOS-newline
    file whose trailing CR the text source keeps, must not leak its
    header as a data row). A splittable text scan carries no
    file-offset information, so this is header-SHAPED handling, not
    first-line-of-file semantics. Under any non-string column the
    matched lines are simply dropped — a genuine data row can't
    render as the header without failing type coercion, so nothing
    silent is lost. Under an ALL-STRING schema a header-shaped line
    is ambiguous (it would parse as a valid data row), so instead of
    an uncountable drop it is routed into the quarantine column like
    any malformed line — consumers see exactly how many
    header-shaped rows were withheld and can resurrect them from
    ``_corrupt_record`` if they were data (r14 advice). Remaining
    caveat, documented rather than hidden: a header written with
    exotic spacing/quoting beyond these variants isn't matched —
    with typed columns it quarantines via coercion, with all-string
    columns it parses as a data row. Corpora where that matters
    should land through the native per-file reader once and convert
    to parquet.

    PERMISSIVE keeps whatever prefix of a malformed line parsed —
    consumers must gate on ``_corrupt_record IS NULL`` (what
    :func:`split_quarantine` does), not on field nullness."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType

    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": CORRUPT_COL,
        "sep": sep,
    }
    raw = spark.read.text(path)
    if not header:
        return _parse_text(raw, F.from_csv, schema, opts)

    struct = StructType.fromDDL(schema)
    names = struct.names

    def _render(name: str) -> str:
        # the csv writer quotes a field containing sep/quote/CR/LF
        # and doubles embedded quotes
        if any(c in name for c in (sep, '"', "\r", "\n")):
            return '"' + name.replace('"', '""') + '"'
        return name

    plain = sep.join(_render(n) for n in names)
    all_quoted = sep.join('"' + n.replace('"', '""') + '"' for n in names)
    variants = {plain, all_quoted, plain + "\r", all_quoted + "\r"}
    is_header = F.col("value").isin(*variants)
    if not all(isinstance(f.dataType, StringType) for f in struct.fields):
        # typed schema: a data row can't render as the header (it
        # would fail coercion), so the drop loses nothing countable
        return _parse_text(
            raw.filter(~is_header), F.from_csv, schema, opts
        )
    # all-string schema: header-shaped is ambiguous with data — route
    # the matches to quarantine (observable, resurrectable) instead
    # of an uncountable filter
    if CORRUPT_COL in names:
        raise ValueError(
            f"schema must not declare {CORRUPT_COL!r}: the reader appends "
            "its own quarantine column of that name (pass the data schema "
            "only, or rename the colliding column)"
        )
    full = f"{schema}, {CORRUPT_COL} string"
    parsed = raw.select(
        "value", F.from_csv("value", full, opts).alias("__r")
    )
    cols = [
        F.when(is_header, F.lit(None).cast("string"))
        .otherwise(F.col("__r").getField(n))
        .alias(n)
        for n in names
    ]
    corrupt = (
        F.when(is_header, F.col("value"))
        .otherwise(F.col("__r").getField(CORRUPT_COL))
        .alias(CORRUPT_COL)
    )
    return parsed.select(*cols, corrupt)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows with the corrupt column
    dropped, and the malformed rows (raw line in ``_corrupt_record``;
    schema columns carry whatever prefix parsed) for counting,
    sampling, and alerting. Both are filters over the same text
    scan."""
    clean = df.filter(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    bad = df.filter(df[CORRUPT_COL].isNotNull())
    return clean, bad
