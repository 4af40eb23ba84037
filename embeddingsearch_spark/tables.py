"""Testdata loaders + deterministic derivation of reference-shaped tables.

The driver's correctness gate compares Spark queries against DuckDB SQL over
the SAME parquet tables (`/root/testdata/sf*/`). The reference's data model
(searchdomain > entity > datapoint > per-model embedding) is not among those
tables, so we *derive* it deterministically from `embeddings.parquet`
(vec_id, embedding ARRAY<FLOAT>, label) with pure integer/list arithmetic
that both engines express identically (see oracle.py for the SQL mirror):

    e   = vec_id div 6          → entity 'ent_{e:06d}'
    dpi = (vec_id % 6) div 2    → datapoint title|text|filename
    mi  = vec_id % 2            → model mock:modelA | mock:modelB
    searchdomain = 'sd_' + (e % 2)
    vector       = embedding        (modelA)
                 | reverse(embedding) (modelB — a consistent second space)
    simmethod       = SIMMETHODS[(e*3 + dpi) % 4]
    dp_probmethod   = DP_PM[(e + dpi) % 8]
    ent_probmethod  = ENT_PM[e % 8]

Query vectors: vec_id < 4 → query 'q{vec_id}', one row per model (modelB
reversed), mirroring the reference's one-query-vector-per-model lookup
(reference Searchdomain.cs:249-254).

This gives every simmethod × probmethod combination real coverage, including
the DictionaryWeightedAverage parameterized form at both cascade levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Entity-level DWA weights are keyed by datapoint name; datapoint-level by
# model name (reference Probmethods.cs:159-176 — keys are the fold keys).
DWA_ENT = 'DictionaryWeightedAverage:{"title":2.0,"filename":0.1,"text":0.25}'
DWA_DP = 'DictionaryWeightedAverage:{"mock:modelA":4.0,"mock:modelB":1.0}'

ENT_PM = [
    "Mean",
    "HarmonicMean",
    "QuadraticMean",
    "GeometricMean",
    "EVEWAvg",
    "HVEWAvg",
    "LVEWAvg",
    DWA_ENT,
]
DP_PM = [
    "Mean",
    "HarmonicMean",
    "QuadraticMean",
    "GeometricMean",
    "EVEWAvg",
    "HVEWAvg",
    "LVEWAvg",
    DWA_DP,
]
SIM = ["Cosine", "Euclidian", "Manhattan", "Pearson"]

N_QUERY_VECS = 4


# events.parquet's `ts` physical encoding has varied across testdata
# generations: INT64 TIMESTAMP(MICROS) (standard — Spark reads it natively)
# and INT64 TIMESTAMP(NANOS) (rejected unless
# spark.sql.legacy.parquet.nanosAsLong=true). We can't rely on session-level
# confs (the driver harness builds its own session) OR on a fixed encoding,
# so probe with a schema-only read and adapt:
#   micros file                 -> plain read, ts already TIMESTAMP
#   nanos file + legacy conf on -> ts arrives LONG (nanos) -> div 1000
#   nanos file + conf off       -> AnalysisException -> explicit LONG schema
_EVENTS_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

# sf_dir -> "native" (ts reads as TIMESTAMP) | "nanos_long" (LONG, needs
# div 1000). Probed once per path per process; the probe is footer-only.
_EVENTS_TS_MODE: dict[str, str] = {}


def _events_ts_mode(spark: SparkSession, path: str) -> str:
    mode = _EVENTS_TS_MODE.get(path)
    if mode is None:
        try:
            dt = spark.read.parquet(path).schema["ts"].dataType
            mode = "nanos_long" if dt.typeName() == "long" else "native"
        except Exception:  # PARQUET_TYPE_ILLEGAL: nanos file, conf off
            mode = "nanos_long"
        _EVENTS_TS_MODE[path] = mode
    return mode


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        path = f"{sf_dir}/{name}.parquet"
        if _events_ts_mode(spark, path) == "native":
            # TIMESTAMP_NTZ -> TIMESTAMP with the wall clock pinned as
            # UTC regardless of session time zone: a bare cast interprets
            # the wall clock in the SESSION zone, so a +05:30 session
            # would shift every instant (and hourly/session windows)
            # relative to the nanos-era epoch semantics the oracle uses.
            # from_utc_timestamp(cast, session_tz) cancels the session
            # interpretation exactly (verified identical under UTC and
            # Asia/Kolkata sessions).
            tz = spark.conf.get("spark.sql.session.timeZone")
            return spark.read.parquet(path).withColumn(
                "ts",
                F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz),
            )
        df = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
        # integer div — float division loses 1 µs on large nano values
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over events.parquet with the same
    encoding-agnostic ts handling as the batch `load` (readStream requires
    an explicit schema, so the probe picks which schema to declare)."""
    if _events_ts_mode(spark, f"{sf_dir}/events.parquet") == "native":
        schema = (
            "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        # same UTC pinning as the batch load (see tables.load)
        tz = spark.conf.get("spark.sql.session.timeZone")
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn(
                "ts",
                F.from_utc_timestamp(F.col("ts").cast("timestamp"), tz),
            )
        )
    return (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TESTDATA_TABLES}


def _pick(idx, options: list[str]):
    """idx (Column, 0..len-1) → CASE over string options."""
    expr = F.lit(options[-1])
    for i, opt in enumerate(options[:-1]):
        expr = F.when(idx == i, F.lit(opt)).otherwise(expr)
    return expr


def derive_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index_flat-shaped corpus derived from embeddings.parquet."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.expr("vec_id div 6")
    dpi = F.expr("(vec_id % 6) div 2")
    mi = F.col("vec_id") % 2
    return emb.select(
        F.concat(F.lit("sd_"), (e % 2).cast("string")).alias("searchdomain"),
        F.concat(F.lit("ent_"), F.lpad(e.cast("string"), 6, "0")).alias("entity"),
        _pick(e % 8, ENT_PM).alias("entity_probmethod"),
        _pick(dpi, ["title", "text", "filename"]).alias("datapoint"),
        _pick((e + dpi) % 8, DP_PM).alias("dp_probmethod"),
        _pick((e * 3 + dpi) % 4, SIM).alias("simmethod"),
        F.when(mi == 0, F.lit("mock:modelA"))
        .otherwise(F.lit("mock:modelB"))
        .alias("model"),
        F.when(mi == 0, F.col("embedding"))
        .otherwise(F.reverse(F.col("embedding")))
        .alias("vector"),
    )


def derive_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query, model, vector) — one row per (query, model)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERY_VECS)
    q = F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias("query")
    a = emb.select(
        q, F.lit("mock:modelA").alias("model"), F.col("embedding").alias("vector")
    )
    b = emb.select(
        q,
        F.lit("mock:modelB").alias("model"),
        F.reverse(F.col("embedding")).alias("vector"),
    )
    return a.unionAll(b)


def derive_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entities-shaped table (searchdomain, entity, probmethod) derived from
    the corpus — distinct entity rows."""
    return (
        derive_corpus(spark, sf_dir)
        .select("searchdomain", "entity", F.col("entity_probmethod").alias("probmethod"))
        .distinct()
    )


def derive_entity_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entities with an attributes MAP (FIXTURES.md §1.2 shape): a real
    MapType column built with map_from_arrays — the engine's replacement
    for the reference's `attribute` table (J2)."""
    ents = derive_entities(spark, sf_dir)
    e = F.expr("CAST(substring(entity, 5) AS BIGINT)")
    lang = _pick(e % 4, ["de", "en", "es", "fr"])
    keys = F.array(
        F.concat(F.lit("k"), (e % 3).cast("string")),
        F.lit("lang"),
        F.lit("source"),
    )
    vals = F.array(
        F.concat(F.lit("v"), (e % 5).cast("string")),
        lang,
        F.col("entity"),
    )
    return ents.withColumn("attributes", F.map_from_arrays(keys, vals))


def literal_frame(spark, rows, schema):
    """A bounded local frame as a JVM-side LocalRelation (VALUES), not
    a parallelized Python RDD.

    `spark.createDataFrame(list)` parallelizes into defaultParallelism
    pickled slices, and EVERY plan that references the frame re-scans
    those slices through Python workers — ~0.1 s of worker handshake
    per slice per reference, which at 32 local cores made each re-use
    of a ~500-row literal frame a ~1 s, 32-task job (and coalescing
    the slices just serialized the same overhead). A VALUES relation
    parses to a LocalTableScan: broadcast builds read it driver-side
    with ZERO tasks and zero Python round-trips, at any reference
    count. Supports the bounded-collect row shapes the serve paths
    re-create (ints, floats incl. ±inf/NaN, strings, bools, None);
    ``schema`` is a DDL string or StructType whose declared types the
    literals are CAST to, so the frame's column types match
    createDataFrame's. Nullability does not: a column with no NULL
    literal comes back non-nullable, where createDataFrame's fields are
    all nullable.

    Falls back to createDataFrame for empty row sets (VALUES needs at
    least one tuple) — an empty frame is referenced, never scanned."""
    import math

    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], schema)

    def lit_sql(v, dt):
        if v is None:
            return f"CAST(NULL AS {dt.simpleString()})"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, float):
            if math.isnan(v):
                return "double('NaN')"
            if math.isinf(v):
                return f"double('{'-' if v < 0 else ''}Infinity')"
            # repr round-trips doubles exactly
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, int):
            return str(v)
        raise TypeError(
            f"literal_frame: unsupported value type {type(v).__name__}"
        )

    fields = schema.fields
    tuples = ", ".join(
        "(" + ", ".join(
            f"CAST({lit_sql(v, f.dataType)} AS {f.dataType.simpleString()})"
            for v, f in zip(row, fields)
        ) + ")"
        for row in rows
    )
    cols = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(
        f"SELECT * FROM (VALUES {tuples}) AS _lit({cols})"
    )
