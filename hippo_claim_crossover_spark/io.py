"""Parquet sources/sinks with explicit schemas.

The reference's only source is ``File.read`` of one EDI string
(``lib/hippo_claim_crossover.rb:313``) and its only sink a per-record PDF
render (``:316``). Our engine's canonical storage is columnar Parquet
(SURVEY.md §1.4): schema-carrying, splittable, predicate-pushdown-capable —
the properties a 100 TB scan actually needs.

Schemas are declared explicitly (never ``inferSchema`` on a production
path, SURVEY.md §1.4): ``load_table`` reads every fixture with its
``SCHEMAS`` entry, so a table load starts no Spark job. What the files
carry is still checked, once per file version per process: the first
read of a path infers its footer schema and raises on any name or type
that differs from the declaration, so a fixture drift fails loudly
instead of silently changing types. The same check detects the legacy
``events`` files that store ``ts`` as TIMESTAMP(NANOS) and routes them
to a read that truncates ``ts`` to microseconds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-side literal table as a DataFrame via the
    Arrow/pandas path. ``createDataFrame(list)`` builds a
    defaultParallelism-slice PYTHON RDD — every evaluation runs ~32
    pickled-partition tasks through Python workers, and a downstream
    ``coalesce(1)`` chains them into one task paying a worker round
    trip PER SLICE (measured ~4.4s for a 2-row frame, r15). Routing
    through pandas keeps the literal JVM-side. ``schema`` may be a DDL
    string (``"a long, b string"``) or a StructType; column order in
    ``rows`` must match it.

    Caveat (r15): pandas uses NaN as its null sentinel, so a
    ``float('nan')`` in a double column arrives as SQL NULL here,
    where the list path would preserve it as NaN. No call site passes
    NaN (fixture literals are ints/strings/timestamps); if one ever
    must, use ``createDataFrame(list)`` for that frame or an explicit
    ``pyarrow.Table`` with ``nan_as_null=False``."""
    import pandas as pd

    if isinstance(schema, str):
        names = [f.name for f in T.StructType.fromDDL(schema).fields]
    else:
        names = [f.name for f in schema.fields]
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=names), schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared ``SCHEMAS`` entry, so the
    read starts no schema-inference job; Catalyst still prunes columns and
    pushes filters into the scan.

    The file's own schema is checked against the declaration (column
    names and types; parquet matches columns by name, so their order in
    the file is free) once per file version per process: the first read
    of a path infers its footer schema with one Spark job, and later
    reads of the same path skip the check while its data files' sizes
    and mtimes are unchanged. A rewritten file is checked again. A
    mismatch raises ``ValueError`` naming the table. The same check
    decides the legacy ``events`` read (see ``_read_nanos_events``)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(SCHEMAS)}")
    path = f"{sf_dir}/{name}.parquet"
    if _check_footer(spark, name, path):
        return _read_nanos_events(spark, path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


# Footer-check memo: path -> (file version, stores events.ts as nanos).
_CHECKED: dict[str, tuple[tuple, bool]] = {}

# What a legacy TIMESTAMP(NANOS) ``events`` file infers under
# ``spark.sql.legacy.parquet.nanosAsLong``, and what its read declares:
# ``ts`` as long nanoseconds.
_EVENTS_NANOS = T.StructType([
    T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
    for f in SCHEMAS["events"].fields])


def _file_version(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` of every file at or under ``path``, or
    None when the path cannot be stat'ed locally (then nothing is
    memoized and every read checks)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (("", st.st_size, st.st_mtime_ns),)
        version = []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            for n in sorted(filenames):
                fp = os.path.join(dirpath, n)
                st = os.stat(fp)
                version.append((os.path.relpath(fp, path), st.st_size,
                                st.st_mtime_ns))
        return tuple(version)
    except OSError:
        return None


def _check_footer(spark: SparkSession, name: str, path: str) -> bool:
    """Check ``path``'s parquet schema against ``SCHEMAS[name]`` unless
    this file version already passed; True iff it is a legacy ``events``
    file storing ``ts`` as TIMESTAMP(NANOS).

    Inference is where a nanos footer throws (Spark's parquet schema
    converter rejects the type), so only that failure, on ``events``,
    falls through to a second inference under the legacy conf. Any
    other failure (missing file, corrupt footer) re-raises as itself.
    The conf is scoped to that inference."""
    from pyspark.errors.exceptions.captured import AnalysisException

    version = _file_version(path)
    hit = _CHECKED.get(path)
    if version is not None and hit is not None and hit[0] == version:
        return hit[1]
    want, nanos = SCHEMAS[name], False
    try:
        got = spark.read.parquet(path).schema
    except AnalysisException as e:
        if name != "events" or e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        want, nanos = _EVENTS_NANOS, True
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            got = spark.read.parquet(path).schema
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    if ({f.name: f.dataType for f in got.fields}
            != {f.name: f.dataType for f in want.fields}):
        raise ValueError(
            f"table {name!r}: {path} has schema {got.simpleString()}, "
            f"declared {want.simpleString()}")
    if version is not None:
        _CHECKED[path] = (version, nanos)
    return nanos


def _read_nanos_events(spark: SparkSession, path: str) -> DataFrame:
    """Current fixtures store ``ts`` as plain TIMESTAMP(MICROS) (untagged,
    so Spark resolves TIMESTAMP_NTZ — the same type ``o_orderdate`` /
    ``l_shipdate`` carry, and what DuckDB's naive TIMESTAMP compares
    against). Earlier fixture generations stored TIMESTAMP(NANOS), which
    Spark's parquet schema converter rejects; this path reads them so the
    loader works against either generation of files.

    A declared LONG ``ts`` reads the nanos column as its raw INT64 value
    without the legacy conf. ``ts div 1000`` is exact LONG integer
    division (a double division would round at 2^53 and can flip the
    last microsecond) — the same truncation DuckDB applies casting
    TIMESTAMP_NS → TIMESTAMP; the ``timestamp_micros`` result (LTZ) is
    cast to ``timestamp_ntz`` so both read paths emit the declared schema
    type and downstream ts-derived columns cannot flip type with the
    fixture generation."""
    return spark.read.schema(_EVENTS_NANOS).parquet(path).select(
        "event_id",
        F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        .alias("ts"),
        "user_id", "event_type", "value", "props",
    )


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for spark.sql() paths."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)


def observed_write(df: DataFrame, path: str, name: str = "pipeline_metrics",
                   metrics: dict[str, "F.Column"] | None = None,
                   **write_kwargs) -> dict:
    """Write ``df`` to parquet while collecting data-quality metrics from
    ``df.observe()`` — row counts, null counts, value bounds — in the SAME
    job as the write. At 100 TB this is the difference between metered
    output and a second full scan just to count rows: ``observe`` attaches
    accumulator-style aggregates to the plan, so the metrics ride the
    write's own pass over the data (exactly how production pipelines
    record per-batch row counts and reject thresholds).

    Returns the metrics row as a dict. Default metrics: ``n_rows``.
    """
    from pyspark.sql.observation import Observation

    obs = Observation(name)
    metrics = metrics or {}
    cols = [F.count(F.lit(1)).alias("n_rows")] + [
        c.alias(k) for k, c in metrics.items()]
    observed = df.observe(obs, *cols)
    write_parquet(observed, path, **write_kwargs)
    return obs.get


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None,
                  target_partitions: int | None = None) -> None:
    """Canonical sink (replaces the reference's per-record PDF render,
    ``lib/hippo_claim_crossover.rb:316``). ``partition_by`` gives
    partition-pruned reads at scale; ``target_partitions`` applies write-side
    coalesce discipline so small outputs don't fragment into 10k files."""
    if target_partitions:
        df = df.coalesce(target_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
