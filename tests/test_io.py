"""S1/S2 scans: multi-char '::' separator + ISO-8859-1 encoding (the
reference's raw-file format, offline/preprocess/s1_data_split.py:10,
s2_term_trans.py:12) through both the CSV reader and the text+split fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from recsys_pipeline_spark import io as eio

SCHEMA = T.StructType(
    [
        T.StructField("itemid", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("genres", T.StringType()),
    ]
)

ROWS = [
    (1, "Les Misérables (1995)", "Drama|Musical"),
    (2, "Café Société", "Comedy"),
    (3, "Plain", "Action|Thriller"),
]


@pytest.fixture(scope="module")
def dat_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("raw") / "movies.dat"
    text = "\n".join("::".join(str(v) for v in r) for r in ROWS) + "\n"
    p.write_bytes(text.encode("ISO-8859-1"))
    return str(p)


def test_multichar_sep_with_encoding(spark, dat_file):
    got = sorted(
        tuple(r) for r in eio.read_delimited(spark, dat_file, SCHEMA, encoding="ISO-8859-1").collect()
    )
    assert got == sorted(ROWS)  # accents survive the ISO-8859-1 decode


def test_text_split_fallback_same_rows(spark, dat_file):
    # fallback path reads bytes as UTF-8 -> use it on the ASCII-only columns
    df = eio.read_delimited_fallback(spark, dat_file, SCHEMA)
    assert df.count() == len(ROWS)
    ids = sorted(r["itemid"] for r in df.collect())
    assert ids == [1, 2, 3]


def test_parquet_ts_unit_probe_and_plain_int64_guard(spark, tmp_path):
    """The era guard must branch on the parquet LOGICAL type: certified-nanos
    columns get the div-1000 truncation, while a physically-plain INT64 ts
    (no timestamp annotation — epoch unit unknowable) raises loudly instead
    of being silently mis-scaled 1000x (ADVICE round 6)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    us = 1_700_000_000_123_456  # fixed UTC epoch micros
    t0 = datetime.datetime.fromtimestamp(us / 1e6, tz=datetime.timezone.utc)

    ns_dir = tmp_path / "ns"
    ns_dir.mkdir()
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([us * 1000], pa.timestamp("ns"))}),
        str(ns_dir / "events.parquet"),
        store_schema=False,  # no arrow-schema override: readers see raw NANOS
    )
    int_dir = tmp_path / "plain"
    int_dir.mkdir()
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([us], pa.int64())}),
        str(int_dir / "events.parquet"),
    )

    assert eio.parquet_ts_unit(str(ns_dir / "events.parquet"), "ts") == "ns"
    assert eio.parquet_ts_unit(str(int_dir / "events.parquet"), "ts") == "int"
    assert eio.parquet_ts_unit(str(int_dir / "events.parquet"), "event_id") == "int"
    assert eio.parquet_ts_unit(str(int_dir / "events.parquet"), "missing") is None

    got = eio.read_table(spark, str(ns_dir), "events").collect()[0]["ts"]
    got_us = int(got.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert got_us == us

    with pytest.raises(ValueError, match="plain INT64"):
        eio.read_table(spark, str(int_dir), "events")

    from recsys_pipeline_spark.streaming.pipeline import _ts_stored_as_int64

    assert _ts_stored_as_int64(str(ns_dir)) is True
    with pytest.raises(ValueError, match="plain INT64"):
        _ts_stored_as_int64(str(int_dir))


def test_table_registry_rescans_a_rewritten_table(spark, tmp_path):
    """The session's scan registry hands back the memoized scan while the
    table file is unchanged, and scans afresh once it is rewritten (its
    mtime/size signature moved) instead of serving the stale plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"p_partkey": [1]}), path)
    first = eio.read_table(spark, str(tmp_path), "part")
    assert eio.read_table(spark, str(tmp_path), "part") is first
    pq.write_table(pa.table({"p_partkey": [1, 2, 3]}), path)
    again = eio.read_table(spark, str(tmp_path), "part")
    assert again is not first
    assert sorted(r[0] for r in again.collect()) == [1, 2, 3]


def test_jsonl_round_trip_and_corrupt_record_quarantine(spark, tmp_path):
    """JSONL scan with explicit schema: good lines parse, malformed lines
    land whole in the corrupt column with fields NULL (PERMISSIVE — the one
    bad line must not kill the backfill), DROPMALFORMED removes them, and
    the writer round-trips."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from recsys_pipeline_spark.io import read_jsonl, write_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "txt": "a"}\n'
        'NOT JSON AT ALL\n'
        '{"id": 2, "txt": "b"}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {(r["id"], r["txt"]) for r in good.collect()} == {(1, "a"), (2, "b")}
    assert bad.count() == 1 and bad.first()["id"] is None
    assert "NOT JSON" in bad.first()["_corrupt_record"]
    dropped = read_jsonl(spark, str(p), schema, mode="DROPMALFORMED")
    assert dropped.count() == 2
    out = tmp_path / "out"
    write_jsonl(good.select("id", "txt"), str(out))
    back = read_jsonl(spark, str(out), schema)
    assert {(r["id"], r["txt"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_compressed_csv_reads_transparently(spark, tmp_path):
    """S1/S2 ingestion also covers compressed drops: Spark decompresses by
    file extension, so a .csv.gz scan needs no option changes (each gzip
    file is one non-splittable task — fine for landing files, repartition
    after the scan for heavy downstream work)."""
    import gzip

    from pyspark.sql import types as T

    from recsys_pipeline_spark.io import read_delimited

    p = tmp_path / "ratings.csv.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write("1::10::5\n2::20::3\n")
    schema = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("item", T.LongType()),
            T.StructField("rating", T.IntegerType()),
        ]
    )
    rows = {tuple(r) for r in read_delimited(spark, str(p), schema).collect()}
    assert rows == {(1, 10, 5), (2, 20, 3)}
