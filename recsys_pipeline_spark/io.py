"""Sources and sinks (SURVEY §2.1).

The reference reads '::'-delimited header-less CSV (S1/S2), writes CSV (S4) and
pickles dict side-tables (S5). Spark-first equivalents:

  * multi-char-separator CSV scan with explicit schema + encoding option
    (Spark 3+ supports multi-char ``sep``; ``read.text``+``split`` fallback kept
    for older builds);
  * Parquet everywhere for intermediates — pickle has no Spark analog and
    Parquet round-trips Map/Array columns (SURVEY §1.3);
  * KV sinks (Redis S7 / ES S8) become persisted ``user_state`` /
    ``item_state`` tables: the online lookup is then a broadcast join.

All readers return lazy DataFrames; filters/projections compose before the scan
so Catalyst pushes them into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recsys_pipeline_spark import schemas


def read_delimited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "::",
    encoding: str = "UTF-8",
) -> DataFrame:
    """S1/S2: header-less CSV with a (possibly multi-char) separator.

    Mirrors the reference scans at offline/preprocess/s1_data_split.py:10 and
    s2_term_trans.py:12 (``sep='::'``, ``encoding='ISO-8859-1'``).
    """
    return (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("header", "false")
        .option("encoding", encoding)
        .csv(path)
    )


def read_delimited_fallback(
    spark: SparkSession, path: str, schema: T.StructType, sep: str = "::"
) -> DataFrame:
    """read.text + split fallback for separators the CSV reader rejects."""
    import re

    raw = spark.read.text(path)
    parts = F.split(F.col("value"), re.escape(sep))
    cols = [parts.getItem(i).cast(f.dataType).alias(f.name) for i, f in enumerate(schema.fields)]
    return raw.select(*cols)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Line-delimited JSON scan with an explicit schema and a corrupt-record
    policy — the ingestion format of most crawl/interaction dumps (the
    reference ingests only CSV/pickle; JSONL is the missing production
    front door).

    * ``mode="PERMISSIVE"`` (default): malformed lines land whole in
      ``corrupt_col`` with every schema field NULL — quarantine them with
      ``df.filter(col(corrupt_col).isNotNull())`` and keep the pipeline
      running (the at-scale posture: one bad line must not kill a 100 TB
      backfill). Spark refuses a query that references ONLY the corrupt
      column ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN]):
      ``.cache()``/persist the frame first — as the round-trip test does —
      or include a data column in the same query.
    * ``mode="DROPMALFORMED"`` / ``mode="FAILFAST"`` pass through to Spark.

    The explicit schema is REQUIRED by design: schema inference reads the
    data twice and silently widens types between runs — both unacceptable
    in a pinned production plan.
    """
    out_schema = schema
    if mode.upper() == "PERMISSIVE" and corrupt_col not in [f.name for f in schema.fields]:
        out_schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
        )
    return (
        spark.read.schema(out_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink (one JSON object per line, Spark's native json writer)."""
    df.write.mode("overwrite").json(path)


def parquet_ts_unit(path: str, col: str) -> str | None:
    """Probe the parquet footer for a column's temporal unit: ``'ns'``/
    ``'us'``/``'ms'``/``'s'`` when the column carries a timestamp logical
    type, ``'int'`` when it is a PLAIN integer with no temporal annotation
    (epoch unit unknowable from metadata), ``None`` when absent/non-temporal.
    One footer read — callers probe once per table, never per row."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    schema = pq.ParquetFile(path).schema_arrow
    if col not in schema.names:
        return None
    t = schema.field(col).type
    if pt.is_timestamp(t):
        return t.unit
    if pt.is_integer(t):
        return "int"
    return None


# Session-scoped table registry (r17, guide §6 / VERDICT #5): building the
# scan DataFrame costs ~87 ms per `spark.read.parquet` call even with warm
# footers (schema inference + py4j round trips), and the long tail of
# sub-second queries pays it 1-3x each. A real deployment reads through a
# metastore catalog that resolves the table ONCE per session; this registry
# is that catalog — it memoizes the lazy scan DATAFRAME (a plan object;
# nothing is materialized, no .cache(), every bench invocation still
# computes from parquet in its own process). Weakly keyed by session so a
# stopped session's entries are collectable; kill switch for A/B. Each entry
# carries its file's (mtime, size) signature: a table rewritten within the
# session is scanned afresh instead of through a stale plan.
import os as _os
import weakref as _weakref

_TABLE_REGISTRY: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of a driver testdata table (predicate/column pushdown
    free), resolved through the session-scoped registry above.

    Timestamp columns are era-guarded: TIMESTAMP(NANOS)-era files surface as a
    raw long under ``spark.sql.legacy.parquet.nanosAsLong`` and are truncated
    to microsecond TimestampType (``timestamp_micros(ns div 1000)`` — the same
    truncation DuckDB/Arrow apply, keeping the oracle comparison identical);
    TIMESTAMP(MICROS)-era files (the current testdata) already read natively
    as timestamp and the ``bigint`` dtype check leaves them untouched.
    """
    if _os.environ.get("SPARK_GRAFT_TABLE_REGISTRY", "1") != "0":
        reg = _TABLE_REGISTRY.setdefault(spark, {})
        key = (_os.path.abspath(sf_dir), name)
        sig = _file_signature(f"{sf_dir}/{name}.parquet")
        hit = reg.get(key)
        if hit is None or hit[0] != sig:
            hit = reg[key] = (sig, _read_table_uncached(spark, sf_dir, name))
        return hit[1]
    return _read_table_uncached(spark, sf_dir, name)


def _file_signature(path: str):
    """(mtime_ns, size) of a table file, or of every file in a table
    directory; None for a path the local filesystem cannot stat (a remote
    URI), which then stays memoized for the session."""
    try:
        if not _os.path.isdir(path):
            st = _os.stat(path)
            return st.st_mtime_ns, st.st_size
        return tuple(sorted(
            (e.name, e.stat().st_mtime_ns, e.stat().st_size)
            for e in _os.scandir(path) if e.is_file()
        ))
    except OSError:
        return None


def _read_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    ts_cols = {"events": ["ts"], "orders": ["o_orderdate"], "lineitem": ["l_shipdate"]}
    for c in ts_cols.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # bigint here means either TIMESTAMP(NANOS) surfaced raw under
            # nanosAsLong, or a physically-plain INT64. Branch on the footer's
            # logical type: only certified nanos get the div-1000 truncation —
            # an unannotated int64's epoch unit is unknowable and silently
            # guessing nanos would mis-scale a micros-era file by 1000x.
            unit = parquet_ts_unit(path, c)
            if unit == "ns":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
            elif unit is not None:
                raise ValueError(
                    f"{name}.{c} is stored as plain INT64 with no timestamp "
                    f"logical type (probe: {unit!r}) — cannot infer the epoch "
                    "unit; rewrite the file with a TIMESTAMP annotation"
                )
    return df


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Small-input parallelization guard for CPU-heavy downstream work.

    A scan of a small file (or a single parquet row-group — the sf0.x
    testdata shape) yields ONE input split, so everything up to the first
    exchange — including per-shingle hashing that does ~100-300 expression
    evaluations per input byte — serializes on one task. When the scan has
    fewer splits than cores, redistribute the (tiny) input once; the exchange
    moves kilobytes and unlocks a cores-wide stage. At production scale the
    scan already yields >= cores splits and this returns the input UNCHANGED —
    no exchange is ever added to a big-data plan.

    Apply at the START of text/shingle pipelines (work per row is huge);
    don't apply to probe-style queries (sketch-ANN) whose pinned plans are
    exchange-free by design.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    # df.rdd.getNumPartitions() physically plans the frame (~17 ms/call);
    # scans are immutable per session, so memoize on the DataFrame object
    # (registry-shared frames pay it once per session, not once per query).
    # Only the spread/don't-spread heuristic reads this, so a stale value
    # under a mid-session scan-conf change can only flip the (semantically
    # neutral) repartition decision.
    n_parts = getattr(df, "_graft_num_parts", None)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        try:
            df._graft_num_parts = n_parts
        except Exception:
            pass
    if n_parts < target:
        return df.repartition(target)
    return df


def read_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in schemas.TESTDATA_TABLES}


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Default sink. Partition columns chosen by the caller for pruning at scale."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed-table sink: pre-shuffles ONCE at write time so every later
    join/aggregation on the bucket key reads co-located data — a SortMergeJoin
    between two tables bucketed on the join key runs with NO Exchange on
    either side. At 100 TB this is the difference between re-shuffling the
    fact table per query and never shuffling it again; the write-side cost is
    the one shuffle you were going to pay anyway."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
