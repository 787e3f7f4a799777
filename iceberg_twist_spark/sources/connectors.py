"""Source/sink connectors beyond parquet: CSV, JSON, partitioned
parquet sink, and the Iceberg guard.

Reference surface: A3/A4 (whole-file source, overwrite sink —
`iceberg-twist/main.py:43-57`), A15 (routed/partitioned output —
`iceberg-twist/transparent_serial_proxy.lua:191,204-215`). The north
star adds Iceberg read/write/maintenance: the real-jar path is guarded
here on runtime availability (SURVEY.md §4.2; the jar cannot be
provisioned without network access), while the table-format semantics themselves (snapshots, time travel,
compaction) run for real in sources/snapshots.py.

Each roundtrip query materializes through a real on-disk sink and
reads back through the matching source, so the oracle check covers the
serializer AND the reader's type mapping. Writes go to a per-process
temp dir — never the read-only testdata.

Scale notes: the partitioned sink writes hash-distributed files under
``partition=value/`` dirs; the read-back filter on the partition
column is satisfied by directory pruning (PartitionFilters in the
scan node), which is the 100 TB layout for routed telemetry (A15) —
partition on route key, prune at read."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.common import duck_exact_sum, duck_r4, exact_sum, r4
from iceberg_twist_spark.registry import register

_SINK_CACHE: dict[tuple[str, str], str] = {}


def _sink_dir(kind: str, sf_dir: str) -> tuple[str, bool]:
    """(path, already_written) for a cached per-process sink dir.

    ``already_written`` gates on the ``_SUCCESS`` commit marker, not
    directory existence — an interrupted write must be redone, never
    silently read back partial (same fix as sources/layouts.py, r5)."""
    key = (kind, sf_dir)
    path = _SINK_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix=f"itws_{kind}_")
        _SINK_CACHE[key] = path
    return path, os.path.exists(os.path.join(path, "_SUCCESS"))


_NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


@register("q_source_csv_roundtrip", oracle=_NATION_ORACLE, tags=("source", "sink"))
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source with explicit schema; values must survive
    the text round-trip exactly."""
    path, written = _sink_dir("csv", sf_dir)
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    if not written:
        nation = load_tables(spark, sf_dir)["nation"].select(*cols)
        nation.write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.option("header", "true")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .csv(path)
    )


@register("q_source_json_roundtrip", oracle=_NATION_ORACLE, tags=("source", "sink"))
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source with explicit schema (schema-on-read —
    the same reader infers if the schema is withheld)."""
    path, written = _sink_dir("json", sf_dir)
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    if not written:
        nation = load_tables(spark, sf_dir)["nation"].select(*cols)
        nation.write.mode("overwrite").json(path)
    return spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).json(path)


_PART_ORACLE = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
       {duck_r4(duck_exact_sum('o_totalprice'))} AS sum_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@register("q_sink_partitioned", oracle=_PART_ORACLE, tags=("sink",))
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (A15 routing) + partition-pruned read.

    orders is written ``partitionBy(o_orderpriority)``; the read-back
    filters two priorities, which prunes to those directories before
    any row is read (PartitionFilters, not a data filter)."""
    path, written = _sink_dir("part", sf_dir)
    if not written:
        orders = load_tables(spark, sf_dir)["orders"]
        (
            orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            # data-proportional money sum: exact integer-cent
            # accumulation (r3 lesson) — the raw double sum's ulp
            # crosses the r4 grain at sf3 group totals (~2.3e11)
            r4(exact_sum("o_totalprice")).alias("sum_price"),
        )
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True if the iceberg-spark runtime jar is on the classpath."""
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: B018
        return True
    except Exception:  # noqa: BLE001
        return False


def write_iceberg(df: DataFrame, table: str) -> None:
    """Iceberg table write (NS mandate) — guarded on jar availability.

    With the runtime jar present this is ``df.writeTo(table).using
    ('iceberg').createOrReplace()`` plus `CALL rewrite_data_files` for
    compaction; without it we fail fast with a clear message rather
    than half-configuring a catalog."""
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise NotImplementedError(
            "iceberg-spark runtime jar not on classpath; add "
            "org.apache.iceberg:iceberg-spark-runtime and a catalog conf "
            "(spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)"
        )
    df.writeTo(table).using("iceberg").createOrReplace()


_EVOLUTION_ORACLE = """
SELECT version,
       count(*) AS rows_read,
       count(event_type) AS typed_rows,
       count(*) - count(event_type) AS null_rows
FROM (
    SELECT 1 AS version, CAST(NULL AS VARCHAR) AS event_type
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 2 AS version, event_type
    FROM events WHERE event_id % 2 = 1
)
GROUP BY version
"""


@register("q_schema_evolution", oracle=_EVOLUTION_ORACLE, tags=("source", "scan"))
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Widening schema evolution across parquet file generations.

    The reference's record format evolved 25 → 8 columns mid-mission
    (`iceberg-twist/notes.org:36-41`); the engine-side requirement is
    reading old and new files as ONE table. Generation v1 is written
    without ``event_type``; v2 adds it; ``mergeSchema=true`` unions
    the footers and v1 rows surface NULL for the added column. At
    100 TB this is routine daily-partition drift — schema-on-read
    merge, no rewrite of old files (Iceberg formalizes the same with
    column-id mapping).
    """
    path, written = _sink_dir("evo", sf_dir)
    ev = load_tables(spark, sf_dir)["events"]
    if not written:
        (
            ev.filter(F.col("event_id") % 2 == 0)
            .select("event_id", "user_id", "value")
            .write.mode("overwrite")
            .parquet(path + "/v=1")
        )
        (
            ev.filter(F.col("event_id") % 2 == 1)
            .select("event_id", "user_id", "value", "event_type")
            .write.mode("overwrite")
            .parquet(path + "/v=2")
        )
        # both generations committed — root marker makes the pair
        # atomic for _sink_dir's reuse gate (the per-generation
        # _SUCCESS files live in the subdirs)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/v=1", path + "/v=2"
    )
    version = F.when(F.col("event_id") % 2 == 0, 1).otherwise(2)
    return (
        merged.select(version.alias("version"), "event_type")
        .groupBy("version")
        .agg(
            F.count("*").alias("rows_read"),
            F.count("event_type").alias("typed_rows"),
            (F.count("*") - F.count("event_type")).alias("null_rows"),
        )
    )


_ORC_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       floor(sum(l_quantity) * 10000 + 0.5) / 10000 AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("q_source_orc_roundtrip", oracle=_ORC_ORACLE, tags=("source", "sink"))
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read → aggregate roundtrip (ORC is the second
    built-in columnar format; predicate pushdown and column pruning
    work the same as parquet). The oracle runs the aggregate on the
    original table — a lossless roundtrip must hash-match it."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag", "l_quantity"
    )
    path, done = _sink_dir("orc", sf_dir)
    if not done:
        li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        (F.floor(F.sum("l_quantity") * 10000 + F.lit(0.5)) / 10000).alias("sum_qty"),
    )


# ------------------------------------------------------- gzip corpus
# Real compressed-text ingestion: 100 TB text corpora arrive as .gz
# members (WARC/WET-style shards), and Spark reads them through the
# built-in Hadoop codec with ZERO custom code — the check here is that
# the whole path (executor-written gzip members → spark.read.text
# decompression → line parse) reproduces the source table bit-exactly
# (md5 of every document's text). Scale notes: gzip is an UNSPLITTABLE
# codec — one member = one read task, which is exactly why corpora
# ship as many ~100 MB-1 GB members; the fixture stages one member per
# shard to model that. Staging is executor-side (groupBy(shard) +
# applyInPandas, one gzip member per shard group) — no driver-side
# data materialization; on a real cluster the same writer lands on
# shared storage.

_GZ_SHARDS = 8

_GZIP_ORACLE = f"""
SELECT doc_id,
       CAST(doc_id % {_GZ_SHARDS} AS INT) AS shard,
       md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS n_chars_read
FROM documents
"""


def _stage_gzip_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as one TSV .gz member per shard (cached)."""
    import pandas as pd

    path, written = _sink_dir("gz", sf_dir)
    if written:
        return path

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import gzip

        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        # mtime=0 keeps member bytes deterministic run-to-run
        payload = "".join(
            f"{int(i)}\t{t}\n" for i, t in zip(pdf["doc_id"], pdf["text"])
        ).encode("utf-8")
        tmp = os.path.join(path, f".shard_{shard:02d}.tmp")
        with open(tmp, "wb") as f:
            with gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as g:
                g.write(payload)
        os.replace(tmp, os.path.join(path, f"shard_{shard:02d}.tsv.gz"))
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", (F.col("doc_id") % _GZ_SHARDS).cast("int").alias("shard")
    )
    written_counts = docs.groupBy("shard").applyInPandas(
        write_shard, "shard int, n long"
    )
    total = written_counts.agg(F.sum("n")).collect()[0][0]
    if total is None or total == 0:
        raise RuntimeError(f"gzip staging wrote no rows for {sf_dir}")
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


@register("q_source_gzip_text", oracle=_GZIP_ORACLE, tags=("source", "llm", "text"))
def q_source_gzip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gzip text-corpus ingestion through Spark's native codec path:
    read the staged .gz members with ``spark.read.text`` (Hadoop
    decompresses transparently), parse the TSV lines, and hash-check
    every document's decompressed text against the source table — the
    delimited-line read (A37, `iceberg-twist/notes.org:94`) over the
    compressed container 100 TB corpora actually ship in.

    ``split(limit=2)`` keeps any tab inside the document text with the
    text; documents are single-line by fixture construction (the same
    assumption the TSV shard format itself encodes)."""
    path = _stage_gzip_corpus(spark, sf_dir)
    lines = spark.read.text(os.path.join(path, "*.tsv.gz"))
    kv = F.split(F.col("value"), "\t", 2)
    parsed = lines.select(
        F.element_at(kv, 1).cast("long").alias("doc_id"),
        F.element_at(kv, 2).alias("text"),
    )
    return parsed.select(
        "doc_id",
        (F.col("doc_id") % _GZ_SHARDS).cast("int").alias("shard"),
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("n_chars_read"),
    )


# --------------------------------------------------------- XML source
# Spark 4 ships a NATIVE XML source (the databricks/spark-xml lineage,
# merged upstream in 4.0) — no external jar. Round-trip the nation
# dimension through rowTag-framed XML with an explicit schema (the
# same reader infers when the schema is withheld). XML remains the
# interchange format of a long tail of enterprise/industrial feeds —
# a source family the engine must read natively, not via UDF parsing.


@register("q_source_xml_roundtrip", oracle=_NATION_ORACLE, tags=("source", "sink"))
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML source (Spark 4 native): values must survive the
    markup round-trip exactly, same contract as the CSV/JSON/ORC
    roundtrips."""
    path, written = _sink_dir("xml", sf_dir)
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    if not written:
        nation = load_tables(spark, sf_dir)["nation"].select(*cols)
        nation.write.mode("overwrite").format("xml").option("rowTag", "nation").save(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(path)
    )


# -------------------------------------------------- splittable codec
# The splittability contrast to q_source_gzip_text: bzip2 is a BLOCK
# codec (900 kB independent blocks with a resynchronizable magic), so
# ONE .bz2 member is read by MANY tasks — Hadoop's pure-Java CBZip2
# splits it at block boundaries. gzip's single DEFLATE stream forces
# one-task-per-member (why gzip corpora ship as many members, modeled
# there); bz2 removes that constraint at ~3-5× the CPU. The staged
# fixture is ONE member holding every document; content must round-
# trip bit-exactly, and tests/test_contract.py pins that the scan
# actually SPLITS (>1 partition under a small maxPartitionBytes) while
# the same payload as .gz stays at 1.

_BZ2_ORACLE = """
SELECT doc_id, md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS n_chars_read
FROM documents
"""


def stage_bz2_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write ALL documents as ONE TSV .bz2 member (cached).

    Single-member staging is the point (splittability makes one big
    member fine); coalesce(1) keeps the write executor-side."""
    import pandas as pd

    path, written = _sink_dir("bz2", sf_dir)
    if written:
        return path

    def write_member(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import bz2 as _bz2

        pdf = pdf.sort_values("doc_id")
        payload = "".join(
            f"{int(i)}\t{t}\n" for i, t in zip(pdf["doc_id"], pdf["text"])
        ).encode("utf-8")
        tmp = os.path.join(path, ".corpus.tmp")
        with open(tmp, "wb") as f:
            f.write(_bz2.compress(payload))
        os.replace(tmp, os.path.join(path, "corpus.tsv.bz2"))
        return pd.DataFrame({"n": [len(pdf)]})

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", F.lit(0).alias("g")
    )
    n = (
        docs.groupBy("g")
        .applyInPandas(write_member, "n long")
        .collect()[0][0]
    )
    if not n:
        raise RuntimeError(f"bz2 staging wrote no rows for {sf_dir}")
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


@register("q_source_bz2_split", oracle=_BZ2_ORACLE, tags=("source", "llm", "text"))
def q_source_bz2_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable-codec ingestion: one .bz2 member, decompressed by
    Hadoop's block-resync codec across however many tasks the split
    size dictates; every document's text hash-checked against the
    source table."""
    path = stage_bz2_corpus(spark, sf_dir)
    lines = spark.read.text(os.path.join(path, "corpus.tsv.bz2"))
    kv = F.split(F.col("value"), "\t", 2)
    return lines.select(
        F.element_at(kv, 1).cast("long").alias("doc_id"),
        F.md5(F.element_at(kv, 2)).alias("text_md5"),
        F.length(F.element_at(kv, 2)).cast("long").alias("n_chars_read"),
    )
