"""Medallion pipeline — the reference's end-to-end flow as a library.

Reference shape (SURVEY.md §3, EP1-EP3): landing JSON → processing
Parquet (``k8s/submit/etl-on-gcp-vinicius-campos.py:19-33``) → SQL
transform over a temp view (``:35-63``) → curated Avro (``:57-61``) →
warehouse load + ``count(*)`` quality gate
(``k8s/dags/etl-gcp-vinicius-campos.py:132-155``). The Airflow DAG
(R16) collapses to plain function composition; the BigQuery steps
become the serving sink + an assertion.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from gcp_etl_spark import io

_T = TypeVar("_T")


def retry(
    fn: Callable[[], _T],
    retries: int = 2,
    retry_delay_s: float = 0.0,
    retryable: tuple[type[BaseException], ...] = (Exception,),
) -> _T:
    """Scheduler-parity retry: the reference DAG gives every task
    ``retries`` extra attempts with a fixed delay
    (``k8s/dags/etl-gcp-vinicius-campos.py:109-116``, Airflow
    ``default_args``). Collapsed here to plain function re-execution —
    safe because every stage write is idempotent (dynamic partition
    overwrite / WRITE_TRUNCATE / atomic manifest swap; proved by the
    rerun tests in tests/test_pipeline.py and tests/test_compaction.py).
    Deliberately NOT retrying ``BaseException``/``KeyboardInterrupt``,
    and quality-gate ``ValueError``s propagate after the final attempt
    exactly like an exhausted Airflow task."""
    last: BaseException | None = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except retryable as e:  # noqa: PERF203 - retry loop
            last = e
            if attempt < retries and retry_delay_s:
                time.sleep(retry_delay_s)
    assert last is not None
    raise last


def run_medallion_with_retries(
    spark: SparkSession,
    landing_json: str | None,
    workdir: str,
    retries: int = 2,
    retry_delay_s: float = 0.0,
    **kwargs,
) -> "PipelineResult":
    """`run_medallion` under the DAG's retry policy: a transient
    failure anywhere in the flow re-runs the whole (idempotent)
    pipeline, up to ``retries`` extra attempts."""
    return retry(
        lambda: run_medallion(spark, landing_json, workdir, **kwargs),
        retries=retries,
        retry_delay_s=retry_delay_s,
    )


@dataclass
class PipelineResult:
    landing_count: int
    curated_count: int
    served_count: int
    curated_format: str
    stages: list[str] = field(default_factory=list)


def run_medallion(
    spark: SparkSession,
    landing_json: str | None,
    workdir: str,
    query: str | None = None,
    view_name: str = "df",
    archive: str | None = None,
) -> PipelineResult:
    """Run landing → processing → curated → serving with the count gate.

    ``query`` defaults to the reference's (determinism-fixed) SQL: the
    reference runs ``SELECT * FROM df LIMIT 100``
    (``pyfiles.zip::my_query.py:1-9``) — a bare LIMIT is
    order-nondeterministic, so the default adds a stable ORDER BY.

    ``archive`` (R1/R2) prepends the reference's zip-ingest stage:
    the archive is fetched + extracted into ``{workdir}/landing`` and,
    when ``landing_json`` is None, the extracted ``.json`` members
    become the landing input.
    """
    stages = []

    if archive is not None:
        members = io.ingest_zip(archive, f"{workdir}/landing")
        stages.append(f"ingest(zip)->landing({len(members)} members)")
        if landing_json is None:
            json_members = [m for m in members if m.endswith(".json")]
            if not json_members:
                raise ValueError("quality gate: archive has no .json members")
            landing_json = json_members
    if landing_json is None:
        raise ValueError("landing_json required when no archive is given")

    # landing → processing (R3-R5): schema-inferred JSON → parquet.
    # R4 gate: a landing with no records (an empty file, or only `{}`
    # lines) infers no columns, and a record-bearing one always infers
    # some, so the inferred schema decides emptiness without a job.
    # The row count rides the write pass as an Observation — at 100 TB
    # a separate .count() action is a second full scan of the landing
    # zone; observe() computes it on the same pass for free.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    raw = io.read_json(spark, landing_json)
    if not raw.columns:
        raise ValueError("quality gate: landing zone is empty")
    gate = Observation("landing_gate")
    raw = raw.observe(gate, F.count(F.lit(1)).alias("n"))
    processing_path = f"{workdir}/processing"
    io.write_parquet(raw, processing_path)
    landing_count = gate.get["n"]
    stages.append("landing->processing(parquet+observed gate)")

    # processing → curated (R6-R13): view + SQL + avro (fallback parquet).
    # Each zone is read back with the schema its writer just wrote
    # (Spark stores it in the footer), so no read-back starts a
    # schema-inference job. The curated count rides the curated write
    # as an Observation, as R4 does, which leaves the query result a
    # single consumer: the reference's R12 cache is single-use too
    # (SURVEY.md R12), so there is none here.
    df = io.read_parquet(spark, processing_path, raw.schema)
    df.createOrReplaceTempView(view_name)
    sql = query or f"SELECT * FROM {view_name} ORDER BY 1 LIMIT 100"
    out = spark.sql(sql)
    spark.catalog.dropTempView(view_name)  # R11
    written = Observation("curated_gate")
    observed = out.observe(written, F.count(F.lit(1)).alias("n"))
    curated_path = f"{workdir}/curated"
    if io.write_avro(observed, curated_path):
        curated_format = "avro"
        curated = spark.read.format("avro").schema(out.schema).load(curated_path)
    else:
        io.write_parquet(observed, curated_path)
        curated_format = "parquet"
        curated = io.read_parquet(spark, curated_path, out.schema)
    curated_count = written.get["n"]
    stages.append(f"processing->curated({curated_format})")

    # curated → serving + count(*) gate (R14-R15)
    io.serving_sink(spark, curated, f"{workdir}/serving", "serving_table")
    served_count = spark.sql(
        "SELECT count(*) AS n FROM serving_table"
    ).collect()[0]["n"]
    if not served_count:
        raise ValueError("quality gate: serving table is empty (R15)")
    stages.append("curated->serving(+count gate)")

    return PipelineResult(
        landing_count=landing_count,
        curated_count=curated_count,
        served_count=served_count,
        curated_format=curated_format,
        stages=stages,
    )
