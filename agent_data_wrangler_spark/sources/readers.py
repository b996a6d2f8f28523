"""Source scans (S1, S3, S6).

Reference behaviour being re-expressed:
- S1: ``pd.read_csv(path)`` with header + dtype inference, mandated by the
  system prompt (reference: graph_proj/src/agent/tool_call_agent.py:132);
- S3: each pipeline stage re-reads the latest ``*_clean`` version
  (tool_call_agent.py:140);
- S6: file-existence guard before the pipeline starts
  (tool_call_agent.py:81-89, raises FileNotFoundError).

Scale notes: parquet is the primary format (columnar, predicate/column
pushdown, splittable); CSV is supported for reference parity and as an export
format. ``inferSchema`` on CSV costs an extra pass — callers at scale pass an
explicit schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def require_exists(path: str) -> str:
    """S6 pre-flight guard: fail fast with a clear error before building a
    plan against a missing source (mirrors tool_call_agent.py:86-87)."""
    probe = path
    # Spark paths may be globs/directories; only guard plain local paths.
    if not any(ch in path for ch in "*?[") and not path.startswith(("s3:", "hdfs:", "gs:", "abfs:")):
        if not os.path.exists(probe):
            raise FileNotFoundError(f"source not found: {path}")
    return path


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    null_values: tuple[str, ...] = ("", "N/A", "NA", "null"),
    infer: bool = True,
) -> DataFrame:
    """S1: header CSV scan with dtype inference and NA-sentinel handling (T13).

    pandas absorbs a whole ``na_values`` set into NaN silently (dirty.csv:35);
    Spark's csv reader takes a single ``nullValue``. Strategy: set the most
    impactful sentinel (``N/A`` — the one that appears inside numeric columns
    and would otherwise poison dtype inference) as the reader-level
    ``nullValue``, then null out every REMAINING sentinel post-read on the
    string-typed columns. Empty cells are null by default in Spark CSV.
    """
    require_exists(path)
    sentinels = tuple(null_values)
    primary = next((s for s in sentinels if s), "")
    reader = (
        spark.read.option("header", True)
        .option("nullValue", primary)
        .option("nanValue", "NaN")
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    rest = [s for s in sentinels if s and s != primary]
    if rest:
        for f in df.schema.fields:
            if f.dataType.simpleString() == "string":
                df = df.withColumn(
                    f.name,
                    F.when(F.trim(F.col(f.name)).isin(*rest), F.lit(None)).otherwise(
                        F.col(f.name)
                    ),
                )
    return df


def _nano_ts_columns(path: str) -> list[str]:
    """Detect INT64 TIMESTAMP(NANOS) parquet columns from the footer (Spark
    refuses them natively; DuckDB and pandas truncate to micros).

    Must inspect the PHYSICAL type, not the arrow-mapped one: pyarrow reports
    legacy INT96 timestamps (Spark's default ``outputTimestampType``) as
    ``timestamp[ns]`` too, but Spark reads INT96 natively as micros — flagging
    those would bolt a nanos→micros conversion onto a column that is already a
    TIMESTAMP (caught by a Spark-written-parquet round-trip unit)."""
    try:
        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            candidates = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not candidates:
                return []
            probe = os.path.join(path, candidates[0])
        pq_schema = pq.read_metadata(probe).schema
        out = []
        for i in range(len(pq_schema)):
            col = pq_schema.column(i)
            if (
                col.physical_type == "INT64"
                and "timeUnit=nanoseconds" in str(col.logical_type)
            ):
                out.append(col.name)
        return out
    except Exception:
        return []


def _conf_get(spark: SparkSession, key: str) -> str | None:
    """conf.get without a default arg — Spark 4 VALIDATES the default value
    (e.g. '' is an invalid timeZone), so a sentinel default can itself throw."""
    try:
        return spark.conf.get(key)
    except Exception:
        return None


#: Inferred-schema memo: abs path → (file-identity fingerprint, StructType).
#: ``spark.read.parquet(path)`` runs a driver-side schema-inference job on
#: EVERY call (measured 185-235 ms/call at sf0.1) and registered queries
#: construct their scans once per bench pass — across a 228-query sweep
#: that is pure fixed cost. A schema keyed by the files' (relpath,
#: mtime_ns, size) identity is exactly what a catalog/metastore provides;
#: rewritten or regenerated files change the fingerprint and re-infer, so a
#: stale schema can never be served (r13-opt, guide §6 "pin the merged
#: schema in a catalog"). Values are metadata only — no row data is ever
#: memoized. r14 (ADVICE): keyed by abspath with the fingerprint INSIDE the
#: value, so a path that is rewritten replaces its entry instead of
#: accumulating one dead entry per (path, fingerprint) generation — long
#: sessions re-staging scratch dirs no longer grow the memo without bound.
_SCHEMA_MEMO: dict[str, tuple[str, StructType]] = {}


def _path_identity(path: str) -> str:
    """(mtime_ns, size) fingerprint of a file or of a directory's files."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{st.st_mtime_ns}:{st.st_size}"
    parts = []
    for dirpath, _dirnames, filenames in sorted(os.walk(path)):
        for fn in sorted(filenames):
            fst = os.stat(os.path.join(dirpath, fn))
            rel = os.path.relpath(os.path.join(dirpath, fn), path)
            parts.append(f"{rel}:{fst.st_mtime_ns}:{fst.st_size}")
    return "|".join(parts)


def widen_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan-parallelism floor for CPU-heavy map passes
    (guide §2: derive partitioning from the input, never a local constant).

    A small local parquet file is ONE split (row groups are the atomic
    unit), so everything whole-stage-fused into its scan — shingling,
    n-gram explodes, per-row hashing, XML/regex parsing — pins a single
    core while the other N-1 idle. Repartition up to the session's default
    parallelism ONLY when the input has fewer partitions than cores; at
    real scale the scan yields >> cores splits and this is a no-op (no
    shuffle, no plan change). Apply it where the downstream work is
    per-row CPU with order-insensitive EXACT aggregation (counts, integer
    sums, hashes, min/max) — double-summing pipelines keep their scan
    layout so partial-sum order stays put.

    Shared by the dedup operators and the non-dedup corpus passes — li1's
    gram pipeline, rs1's positional n-grams, simhash/winnowing profiles —
    so every one gets the same floor.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Primary scan path: splittable, column-pruned, filter-pushdown-capable.

    Nanosecond-timestamp columns (which Spark's vectorized reader rejects) are
    read as raw nano longs and converted to micro timestamps — integer `div`
    so the 1.7e18-range values never pass through a double. This matches the
    DuckDB/pandas truncation semantics, keeping oracle parity.
    """
    require_exists(path)
    # Determinism rule: timestamp arithmetic is UTC regardless of who built
    # the session (the driver's vanilla session may not pin it). Guarded so a
    # correctly-configured session is never mutated mid-flight; sessions from
    # our own factory (session.py) already carry both settings.
    if _conf_get(spark, "spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    nano_cols = _nano_ts_columns(path)
    if nano_cols and _conf_get(spark, "spark.sql.legacy.parquet.nanosAsLong") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Micro/milli naive timestamps would otherwise surface as TIMESTAMP_NTZ
    # (Spark 4 default), which unix_micros, watermarks, and window state all
    # reject; engine policy is "naive means UTC" (session tz pinned above).
    if _conf_get(spark, "spark.sql.parquet.inferTimestampNTZ.enabled") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The two confs above change what inference produces, but both are
    # pinned to fixed values by this point — the memo key needs only the
    # file identity.
    abspath = os.path.abspath(path)
    identity = _path_identity(path)
    memo = _SCHEMA_MEMO.get(abspath)
    if memo is None or memo[0] != identity:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[abspath] = (identity, df.schema)
    else:
        df = spark.read.schema(memo[1]).parquet(path)
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver testdata tables (TESTDATA.md) by name."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """JSON-lines scan — the training-data interchange staple next to
    parquet. Splittable (one object per line), so it parallelizes like any
    text source. Pass ``schema`` at scale: without it Spark runs a full
    inference pre-pass over the data (twice the IO), and sampled inference
    can mistype sparse columns. Multiline JSON arrays are deliberately NOT
    supported here — they are unsplittable (one file = one task), the 100 TB
    anti-format.
    """
    require_exists(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet_merged(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution scan: union N parquet paths written at different
    schema versions, reconciling by column NAME (``mergeSchema``) — columns
    absent in older files surface as NULL. This is how a long-lived ingest
    directory (fields added over months) reads as one table. mergeSchema
    costs a footer read per file at planning time, so production tables
    should pin the merged schema in a catalog; for path-based reads this is
    the correct lever.
    """
    for p in paths:
        require_exists(p)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal ingestion (SURVEY §2.7): the ``binaryFile`` source yields
    (path, modificationTime, length, content binary) — one row per file, file
    bytes as an opaque payload for the operators in ``operators/multimodal``.

    Scale: listing parallelizes across the driver thread pool; each file is
    one row, so millions of small media files want an upstream compaction
    into parquet (payload binary column) — which is exactly the layout the
    multimodal operators consume."""
    require_exists(path)
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar interchange format (Hive-ecosystem
    lakes). Spark's native vectorized ORC reader gives the same predicate
    pushdown / column pruning / stripe skipping story as parquet; the engine
    treats the two as interchangeable at the source layer.
    """
    require_exists(path)
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: StructType | None = None,
) -> DataFrame:
    """XML scan via the native Spark 4 XML source (SPARK-44265, the former
    spark-xml package): one DataFrame row per ``row_tag`` element, entities
    unescaped, missing elements → NULL.

    Scale notes: XML is an ingestion/interchange format only — row-based,
    schema inference costs a full extra pass (pass ``schema`` explicitly in
    production, same rule as read_csv), and files split on element
    boundaries. Land XML once, convert to parquet, query the parquet.
    """
    require_exists(path)
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Dirty-ingestion scan with dead-letter routing: parse CSV under an
    EXPLICIT schema in PERMISSIVE mode and surface unparseable lines in
    ``corrupt_col`` instead of silently nulling them (the difference between
    "value missing" and "row broken" — a quarantine pipeline must tell them
    apart). Callers split on ``corrupt_col IS NULL``: good rows flow on,
    quarantined rows keep their raw line for repair/audit.

    The corrupt column is appended to the caller's schema here — Spark
    requires it declared. Note Spark's guard: a query whose only referenced
    column is the corrupt column is disallowed on raw CSV; quarantine
    consumers always read data columns alongside it, which satisfies the
    rule without caching.

    Scale: splittable parse, schema-pinned (no inference pass), malformed
    handling is per-line with no cross-row state.
    """
    from pyspark.sql.types import StringType, StructField

    require_exists(path)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    return (
        spark.read.option("header", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(path)
    )


def avro_supported(spark: SparkSession | None = None) -> bool:
    """Probe for the spark-avro DATA SOURCE module (session-free by default).

    Avro is built-in-but-external since Spark 2.4: the pip pyspark
    distribution bundles the avro-* LIBRARY jars but NOT the
    ``spark-avro_2.x`` data source, so plain-pip environments (this
    container) fail with AnalysisException at plan time. The av1 roundtrip
    query registers only where the module is deployed — same
    detection-gated contract as the transformWithStateInPandas lane (no
    stub, no runtime surprise).

    With no session the probe checks the distribution's jars directory for
    a ``spark-avro*`` jar (registration-time gate — no JVM needed); with a
    session it additionally resolves the format against the live
    classpath, which also covers ``spark.jars.packages`` deployments the
    jar scan cannot see."""
    if spark is not None:
        try:
            spark.read.format("avro").schema("probe int").load(
                "/nonexistent/__avro_probe__")
            return True
        except Exception as exc:
            # "module absent" must be recognized by the STABLE error
            # condition name, not one message spelling — Spark rewords the
            # prose across versions, and a probe that defaults unmatched
            # errors to supported=True would misreport a broken-classpath
            # deployment. getCondition (4.x, nee getErrorClass) carries
            # the condition for Spark-raised errors; the message substrings
            # cover older sessions and non-captured JVM exceptions.
            cond = ""
            for attr in ("getCondition", "getErrorClass"):
                fn = getattr(exc, attr, None)
                if callable(fn):
                    try:
                        cond = fn() or ""
                        break
                    except Exception:
                        pass
            msg = str(exc)
            missing = (
                "DATA_SOURCE_NOT_FOUND" in cond
                or "DATA_SOURCE_NOT_FOUND" in msg
                or "Failed to find data source" in msg
                or "Failed to find the data source" in msg
            )
            if missing:
                return False
            # "Module deployed" is recognized by the path-error FAMILY,
            # not one spelling: the stable condition name (either side of
            # the bracket form), the classic prose, or — the widest net —
            # an AnalysisException that echoes the probe path (a data
            # source that resolved far enough to touch the path exists on
            # the classpath). A rewording that matches none of these is
            # logged before returning False so a misclassified deployment
            # is diagnosable rather than a silent feature-off (r09 ADVICE).
            from pyspark.errors import AnalysisException
            path_probe_ok = (
                "PATH_NOT_FOUND" in cond
                or "PATH_NOT_FOUND" in msg
                or "Path does not exist" in msg
                or (isinstance(exc, AnalysisException)
                    and "__avro_probe__" in msg)
            )
            if not path_probe_ok:
                import logging
                logging.getLogger(__name__).warning(
                    "avro_supported: probe raised an unrecognized error — "
                    "treating avro as unsupported; if spark-avro IS "
                    "deployed here, report this condition/message so the "
                    "probe can learn it: condition=%r message=%r",
                    cond, msg)
            return path_probe_ok
    import glob
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "spark-avro*.jar")))


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan — the row-based interchange format of the Kafka/schema-
    registry ecosystem. Splittable (block-compressed container files) and
    schema-carrying, so it lands well and converts to parquet once; like
    CSV/XML it has no column pruning or predicate pushdown, so it is a
    land-once format, not a query format. Gate on :func:`avro_supported`
    — plain-pip pyspark lacks the external module."""
    if not avro_supported(spark):
        raise RuntimeError(
            "spark-avro module not deployed in this Spark environment — "
            "probe avro_supported(spark) before calling read_avro; add "
            "org.apache.spark:spark-avro to spark.jars.packages on a "
            "connected cluster")
    require_exists(path)
    return spark.read.format("avro").load(path)
