"""Reference-shaped e2e pipeline + I/O roundtrips (SURVEY.md §5.2:
JSON→Parquet→SQL(limit)→Avro/Parquet→re-read→count gate, R3-R15)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_etl_spark import io, session
from gcp_etl_spark.pipeline import run_medallion
from tests.conftest import jobs_started

AIRPORT_FIELDS = [
    "ident", "type", "name", "elevation_ft", "continent", "iso_country",
    "iso_region", "municipality", "gps_code", "iata_code", "local_code",
    "coordinates",
]


def write_airports_json(path, n=200):
    with open(path, "w") as f:
        for i in range(n):
            rec = {
                "ident": f"AP{i:05d}",
                "type": ["small_airport", "heliport", "closed"][i % 3],
                "name": f"Airport {i}",
                "elevation_ft": None if i % 7 == 0 else i * 13 % 9000,
                "continent": None if i % 5 == 0 else "NA",
                "iso_country": "US",
                "iso_region": f"US-{i % 50:02d}",
                "municipality": f"City{i % 40}",
                "gps_code": f"GPS{i:04d}",
                "iata_code": None,
                "local_code": f"L{i:03d}",
                "coordinates": f"{(i % 359) - 179}.{i % 100:02d}, {(i % 179) - 89}.5",
            }
            f.write(json.dumps(rec) + "\n")


def test_medallion_pipeline_e2e(spark, tmp_path):
    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)
    res = run_medallion(spark, landing, str(tmp_path / "work"))
    assert res.landing_count == 200
    assert res.curated_count == 100  # reference LIMIT 100 (my_query.py)
    assert res.served_count == 100
    assert len(res.stages) == 3
    # serving table is registered and queryable (R14-R15 analog)
    assert spark.sql("SELECT count(*) AS n FROM serving_table").collect()[0]["n"] == 100


def test_medallion_empty_landing_fails_gate(spark, tmp_path):
    """A landing with no records (an empty file, or only `{}` lines)
    infers no columns; the R4 gate refuses it before the processing
    write."""
    for i, content in enumerate(["", "{}\n{}\n"]):
        landing = str(tmp_path / f"landing{i}.json")
        with open(landing, "w") as f:
            f.write(content)
        work = tmp_path / f"work{i}"
        with pytest.raises(ValueError, match="landing zone is empty"):
            run_medallion(spark, landing, str(work))
        assert not (work / "processing").exists()


def test_json_schema_inference_vs_declared(spark, tmp_path):
    """Reference reads JSON with inference (etl-on-gcp…py:22-25); the
    engine supports both inference and a declared StructType."""
    landing = str(tmp_path / "a.json")
    write_airports_json(landing, n=50)
    inferred = io.read_json(spark, landing)
    assert set(AIRPORT_FIELDS) <= set(inferred.columns)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in AIRPORT_FIELDS])
    declared = io.read_json(spark, landing, schema=schema)
    assert declared.schema == schema
    assert declared.count() == 50


def test_coordinates_split_cast(spark, tmp_path):
    """The reference's latent struct-in-string: '"lon, lat"' → typed
    struct (SURVEY.md §1.4)."""
    landing = str(tmp_path / "a.json")
    write_airports_json(landing, n=10)
    df = io.read_json(spark, landing)
    parts = F.split("coordinates", ", ")
    out = df.select(
        parts.getItem(0).cast("double").alias("lon"),
        parts.getItem(1).cast("double").alias("lat"),
    )
    rows = out.collect()
    assert all(r["lon"] is not None and r["lat"] is not None for r in rows)
    assert all(-180 <= r["lon"] <= 180 and -90 <= r["lat"] <= 90 for r in rows)


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    out = str(tmp_path / "p")
    io.write_parquet(df, out, partition_by=["part"])
    back = io.read_parquet(spark, out)
    assert back.count() == 100
    # partition pruning: reading one partition dir touches 1/4 of data
    one = spark.read.parquet(out).filter(F.col("part") == 2)
    assert one.count() == 25
    # dynamic partition overwrite replaces only touched partitions
    upd = spark.range(5).withColumn("part", F.lit(2))
    io.write_parquet(upd, out, partition_by=["part"])
    assert io.read_parquet(spark, out).filter(F.col("part") == 2).count() == 5
    assert io.read_parquet(spark, out).filter(F.col("part") == 1).count() == 25


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    out = str(tmp_path / "c")
    df.write.mode("overwrite").option("header", True).csv(out)
    back = io.read_csv(spark, out)
    assert sorted(map(tuple, back.collect())) == [(1, "a", 1.5), (2, "b", 2.5)]


def test_avro_fallback_probe(spark, tmp_path):
    """The spark-avro jar is external (reference ships it as
    k8s/submit/spark-avro_2.12-3.1.2.jar): write_avro writes Avro when
    the session found the jar, and fails soft, returning False so
    pipelines fall back to parquet, when it did not."""
    df = spark.range(3)
    assert io.write_avro(df, str(tmp_path / "avro")) is (
        session.find_avro_jar() is not None)


def test_avro_write_error_is_not_a_fallback(spark):
    """Only the missing-data-source condition falls back; any other
    analysis error propagates, even when its message names Avro."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as caught:
        spark.sql("SELECT avro_field_missing").schema
    err = caught.value

    class FailingWrite:
        write = property(lambda self: self)

        def format(self, _):
            return self

        def mode(self, _):
            return self

        def save(self, _):
            raise err

    with pytest.raises(AnalysisException, match="avro_field_missing"):
        io.write_avro(FailingWrite(), "unused")


def test_ingest_zip_to_medallion_e2e(spark, tmp_path):
    """R1/R2 (ref cloud-function main.py:5-31): zip archive -> landing
    members -> full medallion run off the extracted json."""
    import zipfile

    src = str(tmp_path / "src.json")
    write_airports_json(src, n=150)
    zpath = str(tmp_path / "airport-codes.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.write(src, "airport-codes.json")
        z.writestr("readme.txt", "not data")
    members = io.ingest_zip(zpath, str(tmp_path / "landing"))
    assert sorted(m.rsplit("/", 1)[-1] for m in members) == [
        "airport-codes.json", "readme.txt",
    ]

    res = run_medallion(
        spark, None, str(tmp_path / "work"), archive=zpath
    )
    assert res.landing_count == 150
    assert res.curated_count == 100
    assert res.stages[0].startswith("ingest(zip)->landing")
    assert len(res.stages) == 4


def test_ingest_zip_rejects_non_zip(tmp_path):
    bad = str(tmp_path / "not_a_zip.zip")
    with open(bad, "w") as f:
        f.write("plain text")
    with pytest.raises(ValueError, match="not a zip"):
        io.ingest_zip(bad, str(tmp_path / "landing2"))


def test_medallion_rerun_idempotent(spark, tmp_path):
    """The DAG's retry semantics (reference retries a failed task into
    the same bucket layout, ``k8s/dags/etl-gcp-vinicius-campos.py:109-116``):
    running the whole pipeline TWICE into the same workdir must yield
    identical counts, an identical serving result, and no leftover /
    duplicate files from the first run."""
    import os

    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)
    work = str(tmp_path / "work")

    r1 = run_medallion(spark, landing, work)
    served1 = {
        (row["ident"],): row
        for row in spark.table("serving_table").collect()
    }
    files1 = {
        os.path.relpath(os.path.join(dp, f), work)
        for dp, _, fs in os.walk(work)
        for f in fs
        if not f.startswith(".")
    }

    r2 = run_medallion(spark, landing, work)
    served2 = {
        (row["ident"],): row
        for row in spark.table("serving_table").collect()
    }
    files2 = {
        os.path.relpath(os.path.join(dp, f), work)
        for dp, _, fs in os.walk(work)
        for f in fs
        if not f.startswith(".")
    }

    assert (r1.landing_count, r1.curated_count, r1.served_count) == (
        r2.landing_count,
        r2.curated_count,
        r2.served_count,
    )
    assert served1 == served2  # same rows, not just same counts
    # overwrite semantics: the second run replaces, never accumulates —
    # no stray part files beyond what a single run leaves
    assert len(files2) == len(files1)
    for zone in ("processing", "curated", "serving"):
        n1 = sorted(f for f in files1 if f.startswith(zone))
        n2 = sorted(f for f in files2 if f.startswith(zone))
        assert len(n1) == len(n2), zone


def test_retry_recovers_transient_failure(spark, tmp_path, monkeypatch):
    """DAG retry parity: a transient failure in the landing read
    (the classic eventually-consistent-bucket flake) is absorbed by
    the retry policy; the successful attempt produces exactly the
    single-run result with no leftover state from the failed one."""
    from gcp_etl_spark import io as gio
    from gcp_etl_spark.pipeline import run_medallion_with_retries

    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)
    real = gio.read_json
    attempts = {"n": 0}

    def flaky(spark_, path, schema=None):
        attempts["n"] += 1
        if attempts["n"] <= 2:
            raise IOError("transient: landing object not yet visible")
        return real(spark_, path, schema)

    monkeypatch.setattr(gio, "read_json", flaky)
    res = run_medallion_with_retries(
        spark, landing, str(tmp_path / "work"), retries=2
    )
    assert attempts["n"] == 3
    assert (res.landing_count, res.served_count) == (200, 100)


def test_retry_exhaustion_propagates(spark, tmp_path, monkeypatch):
    from gcp_etl_spark import io as gio
    from gcp_etl_spark.pipeline import run_medallion_with_retries

    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)

    def always_down(*a, **k):
        raise IOError("landing bucket unreachable")

    monkeypatch.setattr(gio, "read_json", always_down)
    with pytest.raises(IOError, match="unreachable"):
        run_medallion_with_retries(
            spark, landing, str(tmp_path / "work"), retries=2
        )


def write_nested_json(path, n=120):
    with open(path, "w") as f:
        for i in range(n):
            rec = {
                "ident": f"AP{i:05d}",
                "loc": {"lat": (i % 179) - 89.5, "lon": None if i % 9 == 0
                        else (i % 359) - 179.25},
                "tags": [f"t{j}" for j in range(i % 4)],
                "runways": [{"len_ft": 1000 + 7 * i + j, "lit": j % 2 == 0}
                            for j in range(i % 3)],
            }
            f.write(json.dumps(rec) + "\n")


def test_medallion_starts_at_most_six_jobs(spark, tmp_path):
    """Landing inference, the processing write, the curated write, the
    serving write and the R15 count(*) gate: no zone read-back infers
    its schema and the curated count rides the curated write."""
    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)
    work = str(tmp_path / "work")
    assert jobs_started(
        spark, lambda: run_medallion(spark, landing, work), "medallion_jobs"
    ) <= 6


@pytest.mark.parametrize("case", ["default", "count_query", "nested_landing"])
def test_zone_read_back_schema_equals_footer(spark, tmp_path, monkeypatch, case):
    """Each zone is read back with a declared schema, and that schema is
    exactly the one Spark infers from the zone's footers, including a
    count(*) column, non-nullable in the plan, and nested structs and
    arrays inferred from the landing."""
    landing = str(tmp_path / "landing.json")
    query = None
    if case == "nested_landing":
        write_nested_json(landing)
    else:
        write_airports_json(landing)
    if case == "count_query":
        query = ("SELECT type, count(*) AS n, max(elevation_ft) AS top "
                 "FROM df GROUP BY type ORDER BY type")
    declared = {}
    real = io.read_parquet

    def recording(spark_, path, schema=None):
        assert schema is not None, path
        df = real(spark_, path, schema)
        declared[path] = df.schema
        return df

    monkeypatch.setattr(io, "read_parquet", recording)
    work = str(tmp_path / "work")
    run_medallion(spark, landing, work, query=query)
    zones = [f"{work}/{z}" for z in ("processing", "curated", "serving")]
    assert sorted(declared) == sorted(zones)
    for path in zones:
        assert declared[path] == spark.read.parquet(path).schema, path
    if case == "count_query":
        # the plan declares n non-nullable; Parquet stores every field nullable
        spark.read.parquet(zones[0]).createOrReplaceTempView("df")
        try:
            assert spark.sql(query).schema["n"].nullable is False
        finally:
            spark.catalog.dropTempView("df")


def test_curated_count_equals_fresh_count(spark, tmp_path):
    landing = str(tmp_path / "airports.json")
    write_airports_json(landing)
    work = str(tmp_path / "work")
    res = run_medallion(
        spark, landing, work,
        query="SELECT * FROM df WHERE elevation_ft IS NOT NULL",
    )
    fresh = spark.read.parquet(f"{work}/curated").count()
    assert fresh == 200 - len(range(0, 200, 7))
    assert res.curated_count == fresh == res.served_count
