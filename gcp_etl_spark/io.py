"""Sources and sinks — the reference's I/O surface, generalized.

Reference parity (SURVEY.md §2A): schema-inferred JSON scan
(``k8s/submit/etl-on-gcp-vinicius-campos.py:22-25``), parquet sink with
overwrite (``:31``), parquet glob scan (``:39-41``), avro sink
(``:57-61``), plus NS extensions: declared-schema reads, csv, partitioned
writes, and a warehouse-style "serving" sink standing in for the
reference's BigQuery load (``k8s/dags/etl-gcp-vinicius-campos.py:132-142``).

Scale notes: partitioned parquet writes use dynamic partition overwrite
so a re-run replaces only touched partitions; writers avoid
``repartition(1)``-style driver funnels — output file count follows the
final stage's partitioning, which AQE sizes at ~128 MB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ingest_zip(source: str, landing_dir: str) -> list[str]:
    """R1/R2: fetch a zip archive and land its members as files.

    Mirrors the reference's ingest cloud function
    (``k8s/cloud-function/airport-cloud-function.zip::main.py:5-31``):
    download the archive (URL at ``:10``) → store the raw blob →
    extract every member → store each under the landing prefix. The
    local filesystem stands in for the landing bucket; http(s)
    sources go through stdlib urllib (no extra deps). Driver-side by
    design — ingest of ONE archive is not distributed work; at scale
    you run one ``ingest_zip`` per archive from whatever scheduler
    drives the pipeline (the reference uses a cloud function + DAG).

    Returns the extracted member paths (raw archive excluded).
    """
    from zipfile import ZipFile, is_zipfile

    os.makedirs(landing_dir, exist_ok=True)
    base = os.path.basename(source.rstrip("/")) or "archive.zip"
    raw_path = os.path.join(landing_dir, base)
    if source.startswith(("http://", "https://")):
        import urllib.request

        with urllib.request.urlopen(source) as resp, open(raw_path, "wb") as f:
            shutil.copyfileobj(resp, f)
    else:
        shutil.copyfile(source, raw_path)
    if not is_zipfile(raw_path):
        raise ValueError(f"not a zip archive: {source}")
    extracted: list[str] = []
    with ZipFile(raw_path) as z:
        for member in z.namelist():
            if member.endswith("/"):
                continue
            target = os.path.join(landing_dir, member)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            with z.open(member) as src, open(target, "wb") as dst:
                shutil.copyfileobj(src, dst)
            extracted.append(target)
    return extracted


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan; schema inferred when not declared (reference
    behaviour — no ``.schema()`` call at ``etl-on-gcp…py:22-25``)."""
    r = spark.read.format("json").option("multiLine", multiline)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    r = spark.read.option("header", header)
    r = r.schema(schema) if schema is not None else r.option("inferSchema", True)
    return r.csv(path)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan — path may be a glob (reference reads
    ``…/transformation/*.parquet``). Without ``schema`` Spark infers it
    from the footers, which costs one job; pass the writer's schema to
    read back a zone this process just wrote — Spark stores that schema
    in the footer, so it is exactly what inference would return."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    w.parquet(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> bool:
    """Avro sink (reference's curated-zone format, chosen for its row
    orientation, ``README.md:394``). Returns False only when the
    spark-avro jar is absent (Spark's "Failed to find data source:
    avro" condition) — callers fall back to parquet. Any other error,
    such as a real Avro write error with the jar present, propagates."""
    try:
        df.write.format("avro").mode(mode).save(path)
        return True
    except AnalysisException as e:
        if e.getCondition() == "_LEGACY_ERROR_TEMP_1139":
            return False
        raise


def serving_sink(
    spark: SparkSession, df: DataFrame, path: str, table_name: str
) -> DataFrame:
    """Warehouse-style serving sink: overwrite-write + register as a
    queryable table — the engine-local analog of the reference's
    GCS→BigQuery ``WRITE_TRUNCATE`` load + autodetect
    (``k8s/dags/etl-gcp-vinicius-campos.py:132-142``). The table is
    read back with ``df.schema``, the schema just written, so the
    read-back starts no footer-inference job."""
    write_parquet(df, path, mode="overwrite")
    served = read_parquet(spark, path, df.schema)
    served.createOrReplaceTempView(table_name)
    return served


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """JDBC URL for an embedded Derby database directory (Derby ships
    inside pyspark's jars for the Hive metastore, so a REAL JDBC
    round-trip needs no external service or extra jar)."""
    return f"jdbc:derby:{db_dir};create=true"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    truncate: bool = True,
    batchsize: int = 10_000,
    driver: str = DERBY_DRIVER,
) -> None:
    """Warehouse JDBC load — the engine's analog of the reference's
    BigQuery ``WRITE_TRUNCATE`` + schema-autodetect load
    (``k8s/dags/etl-gcp-vinicius-campos.py:132-142``): Spark derives
    the DDL from the DataFrame schema, ``truncate=True`` keeps the
    warehouse-side table definition (grants, indexes) on overwrite
    exactly like WRITE_TRUNCATE does.

    Scale notes: each task opens one connection and writes its own
    partition with ``batchsize``-row batched inserts — the load is as
    parallel as the final stage; size partitions so the DB accepts
    #partitions concurrent writers (``df.coalesce(n)`` to throttle)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("truncate", truncate)
        .option("batchsize", batchsize)
        .mode(mode)
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_col: str | None = None,
    num_partitions: int = 8,
    driver: str = DERBY_DRIVER,
) -> DataFrame:
    """JDBC scan. With ``partition_col`` (numeric), the read is split
    into ``num_partitions`` range-parallel queries (bounds fetched by
    one min/max probe) instead of a single-connection serial pull —
    the only JDBC read shape that survives a large table. Filters and
    projections on the result push down into the remote SQL
    (PushedFilters on the JDBCRelation scan node)."""
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_col is not None:
        lo, hi = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("driver", driver)
            .option(
                "query",
                # ANSI-quote the identifier: Spark writes columns
                # case-preserved, the DB upcases unquoted names
                f'SELECT MIN("{partition_col}") AS lo, '
                f'MAX("{partition_col}") AS hi FROM {table}',
            )
            .load()
            .collect()[0]
        )
        r = (
            r.option("partitionColumn", partition_col)
            .option("lowerBound", int(lo))
            .option("upperBound", int(hi) + 1)
            .option("numPartitions", num_partitions)
        )
    return r.load()


# ---------------------------------------------------------------------------
# Manifest-generation managed storage — object-store-safe mutation
# ---------------------------------------------------------------------------
# Object stores have no atomic directory rename, so any rewrite scheme
# built on renames is unsafe there. The classic
# fix (what Delta/Iceberg do at heart): data directories are IMMUTABLE
# generations (gen-0, gen-1, …) and the only thing ever mutated is a
# single manifest object naming the active generation — a one-object
# PUT/replace, atomic on POSIX (os.replace) and on every object store.
# Readers resolve the manifest first; a crash between "new generation
# written" and "manifest swapped" leaves readers on the old generation
# with zero corruption, and the orphan directory is swept by the next
# successful swap's vacuum.

_MANIFEST = "_ACTIVE_GENERATION"


def _manifest_file(path: str) -> str:
    return os.path.join(path, _MANIFEST)


def active_generation(path: str) -> int | None:
    """Read the active generation number, or None for unmanaged/new."""
    try:
        with open(_manifest_file(path), encoding="utf-8") as f:
            import json

            return int(json.load(f)["generation"])
    except FileNotFoundError:
        return None


def _gen_dir(path: str, gen: int) -> str:
    return os.path.join(path, f"gen-{gen}")


def _swap_manifest(path: str, gen: int) -> None:
    """The ONE mutating step: stage the manifest beside its target and
    os.replace it in — atomic file swap locally, single-object PUT on
    an object store."""
    import json

    tmp = _manifest_file(path) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"generation": gen}, f)
    os.replace(tmp, _manifest_file(path))


class GenerationConflictError(RuntimeError):
    """Raised when an optimistic (CAS) write finds the active
    generation moved past the one the writer based its work on —
    another writer committed first. The loser's staged generation dir
    is removed; re-read the table and retry the whole merge."""


_NO_EXPECT = object()  # sentinel: expect_generation not supplied


def _manifest_lock(path: str):
    """flock on a lock file beside the manifest — makes the
    check-active-then-swap step atomic across local processes. On an
    object store the equivalent is a conditional PUT
    (If-Match/precondition) on the manifest object; the lock file is
    the local-filesystem stand-in for that primitive."""
    import fcntl
    from contextlib import contextmanager

    @contextmanager
    def lk():
        with open(os.path.join(path, _MANIFEST + ".lock"), "a+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    return lk()


def write_managed(df: DataFrame, path: str, expect_generation=_NO_EXPECT) -> int:
    """Write ``df`` as the next generation of a managed parquet dataset
    and atomically activate it. Returns the new generation number.

    Concurrency (r9 verdict ask #5): the generation SLOT is claimed
    with an atomic-exclusive ``os.mkdir`` (two racing writers can
    never stage into the same dir — the second claim moves to the
    next free slot, which also makes crash orphans harmless instead
    of clobbering them), and with ``expect_generation`` the manifest
    swap becomes a CAS: under the manifest lock the active generation
    is re-checked against the one this writer's work was based on,
    and if another writer committed in between the staged dir is
    deleted and ``GenerationConflictError`` raised — the loser loses
    CLEANLY and retries from the new state (the Delta/Iceberg
    optimistic-commit protocol). Without ``expect_generation`` the
    historical last-writer-wins behavior is preserved."""
    os.makedirs(path, exist_ok=True)
    base = active_generation(path)
    if expect_generation is not _NO_EXPECT and base != expect_generation:
        raise GenerationConflictError(
            f"active generation is {base}, writer expected "
            f"{expect_generation} (conflicting commit landed first)"
        )
    gen = (base if base is not None else -1) + 1
    while True:
        try:
            os.mkdir(_gen_dir(path, gen))
            break
        except FileExistsError:
            gen += 1  # slot taken (live writer or crash orphan)
    # mode("append"), NOT "overwrite": overwrite would DELETE the
    # freshly-claimed dir before writing, reopening the race the
    # exclusive mkdir closes (a second writer's mkdir could succeed
    # inside the delete window and both would stage into one dir).
    # The dir is guaranteed empty and exclusively owned, so append
    # produces exactly the same files without ever unlinking it.
    df.write.mode("append").parquet(_gen_dir(path, gen))
    with _manifest_lock(path):
        if expect_generation is not _NO_EXPECT:
            cur = active_generation(path)
            if cur != expect_generation:
                shutil.rmtree(_gen_dir(path, gen), ignore_errors=True)
                raise GenerationConflictError(
                    f"active generation moved {expect_generation} -> {cur} "
                    "during the write (conflicting commit landed first)"
                )
        _swap_manifest(path, gen)
    return gen


def read_managed(
    spark: SparkSession, path: str, generation: int | None = None
) -> DataFrame:
    """Scan a managed dataset. By default the ACTIVE generation; pass
    ``generation`` for TIME TRAVEL to any generation that has not been
    vacuumed yet (the Delta/Iceberg ``VERSION AS OF`` shape — possible
    precisely because generations are immutable and only the manifest
    mutates)."""
    if generation is None:
        generation = active_generation(path)
        if generation is None:
            raise FileNotFoundError(
                f"no active generation manifest under {path}"
            )
    gdir = _gen_dir(path, generation)
    if not os.path.isdir(gdir):
        raise FileNotFoundError(
            f"generation {generation} not present under {path} "
            "(vacuumed or never written)"
        )
    return spark.read.parquet(gdir)


def list_generations(path: str) -> list[int]:
    """Generations currently on disk (time-travel horizon), sorted."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[4:]) for n in names if n.startswith("gen-") and n[4:].isdigit()
    )


def vacuum_managed(path: str) -> list[str]:
    """Remove generation dirs other than the active one (orphans from
    crashes + superseded generations). Safe any time the swap protocol
    is followed: only the manifest names a live directory. Returns the
    removed dir names."""
    gen = active_generation(path)
    removed = []
    for name in sorted(os.listdir(path)):
        if name.startswith("gen-") and name != f"gen-{gen}":
            shutil.rmtree(os.path.join(path, name))
            removed.append(name)
    return removed


def merge_managed(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    delete_col: str | None = None,
    broadcast_keys: bool = True,
    schema_evolution: bool = False,
    check_conflict: bool = True,
) -> int:
    """Batch ``MERGE INTO``-style keyed upsert on a managed dataset —
    the batch DML twin of the streaming exactly-once JDBC upsert
    (streaming/jdbc_sink.py) and the incremental cousin of the
    reference's full-table WRITE_TRUNCATE reload
    (k8s/dags/etl-gcp-vinicius-campos.py:132-142, which replaces the
    warehouse table wholesale on every run).

    Semantics per ANSI MERGE with the three standard clauses:
      * WHEN MATCHED AND source.<delete_col>  -> DELETE
      * WHEN MATCHED                          -> UPDATE SET * (source
        row replaces the target row wholesale)
      * WHEN NOT MATCHED AND NOT <delete_col> -> INSERT *

    Copy-on-write over the generation store: survivors = target rows
    whose key matches NO source key (one LEFT ANTI join) unioned with
    the source's non-delete rows, written as the NEXT generation and
    atomically activated. The pre-merge generation stays immutable on
    disk — MERGE is time-travelable and crash-safe for free, exactly
    like ``compact_managed`` (a crash before the manifest swap leaves
    readers on the old generation).

    Scale: the anti join shuffles on the merge key only; with
    ``broadcast_keys`` (default) the DISTINCT source-key relation — a
    CDC batch's keys, orders of magnitude smaller than the table — is
    broadcast, so the TARGET NEVER SHUFFLES AT ALL: each target file
    scan task drops matched keys map-side and the write re-partitions
    nothing. Set it False when the source rivals the target in size
    and let AQE pick the join strategy. Returns the new generation.

    ``schema_evolution=True`` (r9 verdict ask #5): a NEW source column
    WIDENS the target — surviving target rows backfill it with typed
    NULLs (the Delta ``mergeSchema`` semantic); a target column the
    source lacks is likewise null-filled on the source side. Without
    the flag, source and target must project identically (a missing
    source column raises, the historical strict contract).

    ``check_conflict=True`` (default): MERGE is read-modify-write, so
    the commit passes the generation this merge READ as the CAS
    expectation — if another writer commits first, this merge raises
    ``GenerationConflictError`` with its staged data cleaned up,
    instead of silently overwriting the other writer's rows (pinned
    by the two-writer pytest in tests/test_r10.py)."""
    keys = list(key_cols)
    base_gen = active_generation(path)
    # Pin the scan to the SAME generation the CAS expects: re-resolving
    # the active generation independently would let a commit landing
    # between the two calls make this merge compute against gen N+1
    # while the CAS still expects gen N — a spurious conflict for a
    # merge that actually used the latest data. Pinned, a conflict is
    # always genuine (the merge really did read superseded data).
    target = read_managed(spark, path, generation=base_gen)
    if delete_col is not None:
        upserts = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = source
    src_keys = source.select(*keys).distinct()
    if broadcast_keys:
        src_keys = F.broadcast(src_keys)
    kept = target.join(src_keys, keys, "left_anti")
    if schema_evolution:
        t_types = dict(target.dtypes)
        s_types = dict(upserts.dtypes)
        out_cols = target.columns + [
            c for c in upserts.columns if c not in t_types
        ]
        kept = kept.select(
            *[
                F.col(c) if c in t_types
                else F.lit(None).cast(s_types[c]).alias(c)
                for c in out_cols
            ]
        )
        upserts = upserts.select(
            *[
                F.col(c) if c in s_types
                else F.lit(None).cast(t_types[c]).alias(c)
                for c in out_cols
            ]
        )
        merged = kept.unionByName(upserts)
    else:
        merged = kept.unionByName(upserts.select(*target.columns))
    if check_conflict:
        return write_managed(merged, path, expect_generation=base_gen)
    return write_managed(merged, path)


def _verify_generation(spark: SparkSession, src: str, dst: str) -> tuple[int, int]:
    """Pre-swap verification: row counts of the source and candidate
    generations (kept as a seam so tests can inject corruption between
    write and verify)."""
    return spark.read.parquet(src).count(), spark.read.parquet(dst).count()


def compact_managed(
    spark: SparkSession, path: str, target_mb: int = 128, vacuum: bool = True
) -> tuple[int, int]:
    """Object-store-safe compaction of a managed dataset: write the
    coalesced copy as the NEXT generation, verify its row count
    against the source BEFORE the swap, atomically swap the manifest,
    then vacuum superseded generations. Any crash before the swap
    leaves readers on the intact old generation; re-running compaction
    simply produces a fresh generation. Returns
    (files_before, files_after)."""
    import glob as _glob

    gen = active_generation(path)
    if gen is None:
        raise FileNotFoundError(f"no active generation manifest under {path}")
    src = _gen_dir(path, gen)
    files = [f for f in _glob.glob(f"{src}/*.parquet") if os.path.isfile(f)]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
    dst_gen = gen + 1
    dst = _gen_dir(path, dst_gen)
    spark.read.parquet(src).coalesce(int(n_out)).write.mode("overwrite").parquet(dst)
    n_src, n_dst = _verify_generation(spark, src, dst)
    if n_src != n_dst:
        shutil.rmtree(dst)
        raise ValueError(
            f"compaction verify failed: {n_src} source rows vs {n_dst} compacted"
        )
    _swap_manifest(path, dst_gen)
    if vacuum:
        vacuum_managed(path)
    after = [f for f in _glob.glob(f"{dst}/*.parquet") if os.path.isfile(f)]
    return len(files), len(after)
