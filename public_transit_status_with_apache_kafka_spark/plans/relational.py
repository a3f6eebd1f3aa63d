"""Scans, projections, scalar expressions, filters, sorts, time bucketing.

Covers SURVEY.md section 2 operator IDs S1, P1-P12, F1-F6, O1-O2, W3-W4 over
the driver test tables. Each reference operator is cited in the docstring;
the implementation is idiomatic DataFrame code (whole-stage codegen, no
Python UDFs), NOT a translation of the reference's per-record Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io_util import load, scratch_dir
from ..functions.hashing import md5_long_sql
from ..functions.rounding import ratio_round_big, ratio_round_big_sql
from ..functions.strings import topic_safe_name, train_id
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


# ---------------------------------------------------------------- sources
@_register(
    "s1_scan_projection_pushdown",
    sql="SELECT r_regionkey, r_name FROM region",
)
def s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S4 (producers/simulation.py:35-37): plain table scan.

    The .select() prunes columns at the parquet reader (ReadSchema shows
    only the two columns at any scale).
    """
    return load(spark, sf_dir, "region").select("r_regionkey", "r_name")


@_register(
    "s1_csv_roundtrip",
    # CAST the sums to BIGINT: DuckDB's sum(BIGINT) returns HUGEINT, which
    # pandas renders as float64 and the driver's %.9g formatting flips to
    # scientific notation past 10 significant digits (seen at sf0.1 where
    # the en checksum sum crosses 1e9) while Spark emits int64 — identical
    # values, mismatched rendering. BIGINT keeps both sides integer.
    sql=f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({md5_long_sql('text')} % 1000003) AS BIGINT) AS text_checksum
    FROM documents GROUP BY lang
    """,
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (reference ingests cta_stations.csv via Postgres/Kafka Connect):
    the engine's CSV source path end to end — write documents out as
    headered CSV (quoting exercised), read back through an explicit
    schema, aggregate. The oracle reads the ORIGINAL parquet table, so a
    hash match proves the CSV encode/decode is lossless including the
    per-row text checksum.

    Unlike the other registered queries this one executes eagerly (write +
    collect) when the callable runs: the CSV directory is a tempdir removed
    in the ``finally``, so the result must be materialized before return.
    The collected result is bounded (one row per language)."""
    import shutil

    from ..functions.hashing import md5_long

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    tmp = scratch_dir("s1_csv_")
    try:
        docs.write.mode("overwrite").option("header", "true").csv(tmp)
        # multiLine=true: the writer quotes fields containing newlines, so
        # the reader must be allowed to span records across line breaks or
        # any embedded '\n' in text breaks record framing. escape matches
        # the writer's default ('\').
        back = (
            spark.read.schema("doc_id long, lang string, n_chars long, text string")
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", "\\")
            .csv(tmp)
        )
        out = back.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(md5_long("text") % 1000003).alias("text_checksum"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "s1_jsonl_roundtrip",
    # same oracle shape as s1_csv_roundtrip: aggregate the ORIGINAL
    # parquet table, so a hash match proves the JSONL encode/decode is
    # lossless (sums CAST to BIGINT — DuckDB HUGEINT renders as float64)
    sql=f"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({md5_long_sql('text')} % 1000003) AS BIGINT) AS text_checksum
    FROM documents GROUP BY source
    """,
)
def s1_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: newline-delimited JSON round-trip — THE interchange
    format of LLM training corpora (every public corpus release ships
    .jsonl.gz shards). Write documents as JSONL, read back through an
    explicit schema (no inference pass — at 100 TB schema inference is
    a full extra scan), aggregate with per-row text checksums against
    the parquet original. JSON string escaping is total, so unlike CSV
    there is no quoting configuration to get wrong — this query pins
    that the engine's encode/decode agrees.

    Eager like the CSV twin: tempdir removed in ``finally``, result is
    one row per source."""
    import shutil

    from ..functions.hashing import md5_long

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars", "text")
    tmp = scratch_dir("s1_jsonl_")
    try:
        docs.write.mode("overwrite").json(tmp)
        back = spark.read.schema(
            "doc_id long, source string, n_chars long, text string"
        ).json(tmp)
        out = back.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(md5_long("text") % 1000003).alias("text_checksum"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "s1_orc_roundtrip",
    # oracle aggregates the ORIGINAL parquet (DuckDB cannot read ORC);
    # a hash match proves the ORC encode/decode is lossless. The lang
    # predicate must also hold post-roundtrip, so the filtered counts
    # pin that ORC's predicate evaluation agrees with parquet's.
    sql=f"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({md5_long_sql('text')} % 1000003) AS BIGINT) AS text_checksum
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def s1_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 extension: ORC round-trip — the third columnar interchange
    format next to parquet/CSV/JSONL (Spark ships the ORC reader/writer
    in-core; Hive-era lakes are full of it). Write documents as ORC,
    read back, filter + aggregate with per-row text checksums against
    the parquet original. The read applies a lang pushdown predicate:
    ORC carries column statistics per stripe exactly like parquet row
    groups, so the filter reaches the scan (`PushedFilters` in the
    explain — asserted in tests/test_scale_layout.py).

    Eager like the CSV twin: tempdir removed in ``finally``, result is
    one row per source."""
    import shutil

    from ..functions.hashing import md5_long

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    tmp = scratch_dir("s1_orc_")
    try:
        docs.write.mode("overwrite").orc(tmp)
        back = spark.read.orc(tmp).filter(F.col("lang") == "en")
        out = back.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(md5_long("text") % 1000003).alias("text_checksum"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "x_compact_small_files",
    # oracle aggregates the ORIGINAL table: a hash match proves the
    # shatter→compact rewrite is lossless (same shape as the format
    # round-trips; file-count/size/plan assertions live in
    # tests/test_maintenance.py)
    sql=f"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({md5_long_sql('text')} % 1000003) AS BIGINT) AS text_checksum
    FROM documents GROUP BY source
    """,
)
def x_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage maintenance: small-files compaction. Shatter documents
    into 48 tiny parquet files (the streaming-sink pathology), compact
    shuffle-free (`operators/maintenance.compact_files`: metadata-only
    sizing + coalesce — no Exchange anywhere), then aggregate the
    compacted copy with per-row checksums against the original.

    Eager like the format round-trips: tempdirs removed in ``finally``,
    result is one row per source."""
    import shutil

    from ..functions.hashing import md5_long
    from ..operators import maintenance

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    tmp = scratch_dir("x_compact_")
    small, compacted = os.path.join(tmp, "small"), os.path.join(tmp, "big")
    try:
        docs.repartition(48).write.mode("overwrite").parquet(small)
        manifest = maintenance.compact_files(
            spark, small, compacted, target_bytes=256 * 1024
        )
        assert manifest["files_after"] < manifest["files_before"]
        out = (
            spark.read.parquet(compacted)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(md5_long("text") % 1000003).alias("text_checksum"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------- projections
@_register(
    "p1_projection",
    sql="SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (consumers/faust_stream.py:87-92): 10-col -> 4-col projection."""
    return load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@_register(
    "p2_case_derivation",
    sql="""
    SELECT p_partkey,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                WHEN p_size < 45 THEN 'large'
                ELSE NULL END AS size_class
    FROM part
    """,
)
def p2_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (consumers/faust_stream.py:77-84): first-match-wins CASE chain,
    falling through to NULL — same shape as the red>blue>green line pick."""
    p = load(spark, sf_dir, "part")
    size_class = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .when(F.col("p_size") < 45, "large")
    )
    return p.select("p_partkey", size_class.alias("size_class"))


@_register(
    "p3_string_normalize",
    sql="""
    SELECT p_partkey,
           replace(replace(replace(replace(lower(p_name), '/', '_and_'),
                   ' ', '_'), '-', '_'), '''', '') AS topic_name
    FROM part
    """,
)
def p3_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (producers/models/station.py:22-28): kafka-topic-safe naming."""
    return load(spark, sf_dir, "part").select(
        "p_partkey", topic_safe_name("p_name").alias("topic_name")
    )


@_register(
    "p4_string_replace",
    sql="SELECT o_orderkey, replace(o_orderpriority, '-', ' ') AS priority_disp FROM orders",
)
def p4_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (consumers/models/station.py:35): display-string replace."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit(" ")).alias("priority_disp"),
    )


@_register(
    "p5_initcap_cast",
    sql="""
    SELECT c_custkey,
           concat(upper(substr(lower(c_mktsegment), 1, 1)),
                  substr(lower(c_mktsegment), 2)) AS segment_disp,
           CAST(trunc(c_acctbal) AS INTEGER) AS acctbal_int
    FROM customer
    """,
)
def p5_initcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (consumers/templates/status.html:14): title-case + int cast.

    DuckDB lacks initcap, so both sides spell it as upper(first)+rest for
    the single-word segment values; Spark int cast truncates toward zero
    like DuckDB's CAST.
    """
    c = load(spark, sf_dir, "customer")
    seg = F.lower(F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.concat(F.upper(F.substring(seg, 1, 1)), F.substring(seg, 2, 2147483647)).alias(
            "segment_disp"
        ),
        F.col("c_acctbal").cast("int").alias("acctbal_int"),
    )


@_register(
    "p6_format_train_id",
    sql="""
    SELECT s_suppkey,
           concat(upper(substr(s_name, 1, 1)), 'L',
                  lpad(CAST(s_suppkey % 1000 AS VARCHAR), 3, '0')) AS unit_id
    FROM supplier
    """,
)
def p6_train_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 (producers/models/line.py:55-57): '<Color>L<zero-padded-number>'."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey", train_id(F.col("s_name"), F.col("s_suppkey") % 1000).alias("unit_id")
    )


@_register(
    "p7_json_parse",
    sql="SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS prop_k FROM events",
)
def p7_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (consumers/models/line.py:64,71): JSON payload decode."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@_register(
    "p8_json_serialize",
    sql="SELECT event_id, concat('{\"id\":', CAST(event_id AS VARCHAR), '}') AS payload FROM events",
)
def p8_json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 (producers/models/weather.py:74-87): JSON payload encode."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id", F.to_json(F.struct(F.col("event_id").alias("id"))).alias("payload")
    )


@_register(
    "p9_event_time_millis",
    sql="SELECT event_id, epoch_ms(ts) AS ts_millis FROM events",
)
def p9_time_millis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 (producers/models/producer.py:93-95): epoch-millis event keys."""
    e = load(spark, sf_dir, "events")
    return e.select("event_id", F.unix_millis(F.col("ts")).alias("ts_millis"))


@_register(
    "p10_enum_code",
    sql="""
    SELECT event_id,
           CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                WHEN 'signup' THEN 2 WHEN 'purchase' THEN 3 ELSE 9 END AS type_code
    FROM events
    """,
)
def p10_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 (producers/models/train.py:12): enum <-> code mapping via a map
    literal (element_at over create_map keeps it a single codegen expr)."""
    e = load(spark, sf_dir, "events")
    mapping = F.create_map(
        F.lit("view"), F.lit(0),
        F.lit("click"), F.lit(1),
        F.lit("signup"), F.lit(2),
        F.lit("purchase"), F.lit(3),
    )
    return e.select(
        "event_id",
        F.coalesce(mapping[F.col("event_type")], F.lit(9)).alias("type_code"),
    )


@_register(
    "p11_math_scalar_chain",
    sql="""
    SELECT l_orderkey, l_linenumber,
           CAST(least(greatest(floor(l_extendedprice * (1 - l_discount) / 100.0), 5), 500)
                AS BIGINT) AS bucket
    FROM lineitem
    """,
)
def p11_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 (producers/models/weather.py:57-65, turnstile_hardware.py:52-66):
    floor/clamp arithmetic chain, pure IEEE-double so bit-identical."""
    li = load(spark, sf_dir, "lineitem")
    raw = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) / 100.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.least(F.greatest(raw, F.lit(5)), F.lit(500)).cast("long").alias("bucket"),
    )


@_register(
    "p12_rounding",
    sql="""
    SELECT l_returnflag, round(avg(l_discount), 3) AS avg_discount
    FROM lineitem GROUP BY l_returnflag
    """,
)
def p12_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 (producers/models/turnstile_hardware.py:25-33): rounded seed stats."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.round(F.avg("l_discount"), 3).alias("avg_discount"))


# ------------------------------------------------------------- filters
@_register(
    "f1_boolean_filter",
    sql="SELECT p_partkey, p_size FROM part WHERE p_size > 25",
)
def f1_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (producers/simulation.py:52-56): boolean-predicate row subset.
    Pushed to the parquet scan (PushedFilters: [GreaterThan(p_size,25)])."""
    return load(spark, sf_dir, "part").filter(F.col("p_size") > 25).select("p_partkey", "p_size")


@_register(
    "f2_equality_filter",
    sql="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'",
)
def f2_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (producers/models/turnstile_hardware.py:22-24): equality lookup."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@_register(
    "f3_routing_by_value",
    sql="""
    SELECT event_type, count(*) AS n FROM events
    WHERE event_type IN ('click', 'view') GROUP BY event_type
    """,
)
def f3_route_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (consumers/models/lines.py:26-33): dispatch on a value column,
    unknown values discarded (the NOT-IN set is the dead-letter view)."""
    e = load(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@_register(
    "f4_routing_by_prefix",
    sql="SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority LIKE '1-%'",
)
def f4_route_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (consumers/models/lines.py:22,34): topic-prefix dispatch ==
    startswith predicate on the routing column."""
    o = load(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderpriority").startswith("1-")).select(
        "o_orderkey", "o_orderpriority"
    )


@_register(
    "f5_null_guard",
    sql="""
    SELECT event_id, user_id, prev_type FROM (
      SELECT event_id, user_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ) WHERE prev_type IS NOT NULL
    """,
)
def f5_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (consumers/models/line.py:34-45): act only when the prev_* pair is
    non-null — here prev_* is derived per key with lag(), first event null."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("event_id", "user_id", "prev_type")
    )


@_register(
    "f6_malformed_skip",
    sql="""
    SELECT count(*) AS n_ok FROM (
      SELECT CASE WHEN event_id % 3 = 0 THEN concat('x', props) ELSE props END AS payload
      FROM events
    ) WHERE json_valid(payload)
    """,
)
def f6_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 (consumers/consumer.py:86-99): deserialization failures dropped.
    One third of payloads are deliberately corrupted; from_json yields NULL
    for them (PERMISSIVE) and the filter drops them, mirroring the
    reference's log-and-skip."""
    e = load(spark, sf_dir, "events")
    payload = F.when(F.col("event_id") % 3 == 0, F.concat(F.lit("x"), F.col("props"))).otherwise(
        F.col("props")
    )
    parsed = F.from_json(payload, "k INT")
    # PERMISSIVE mode yields a struct of nulls (not a null struct) for
    # malformed input, so the drop condition checks the payload field
    return (
        e.select(parsed.alias("parsed"))
        .filter(F.col("parsed.k").isNotNull())
        .agg(F.count("*").alias("n_ok"))
    )


# --------------------------------------------------------- sorts / topk
@_register(
    "o1_topk_orders",
    sql="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 (producers/simulation.py:35-37, status.html:29-30) + the top-k
    extension: global sort with a unique tie-break key then limit. Spark
    plans this as TakeOrderedAndProject — no full sort at scale."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# ------------------------------------------------------ time bucketing
@_register(
    "w3_hour_bucket",
    sql="""
    SELECT CAST(hour(ts) AS INTEGER) AS hr, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def w3_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (producers/models/turnstile_hardware.py:48-51): hour-of-day bucket."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.hour("ts").alias("hr"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_register(
    "w4_dayofweek_branch",
    sql="""
    SELECT CASE WHEN dayofweek(ts) = 0 THEN 'sunday'
                WHEN dayofweek(ts) = 6 THEN 'saturday'
                ELSE 'weekday' END AS day_class,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def w4_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (producers/models/turnstile_hardware.py:55-61): weekday/sat/sun
    branch. Implements the *intended* semantics; the reference's
    'if dow >= 0 or dow < 5' is always true (documented bug). Note Spark
    dayofweek is 1=Sunday..7=Saturday, DuckDB 0=Sunday..6=Saturday — each
    side uses its own encoding for the same day classes."""
    e = load(spark, sf_dir, "events")
    dow = F.dayofweek("ts")  # 1 = Sunday ... 7 = Saturday
    day_class = (
        F.when(dow == 1, "sunday").when(dow == 7, "saturday").otherwise("weekday")
    )
    return e.groupBy(day_class.alias("day_class")).agg(F.count("*").alias("n"))


@_register(
    "x_datetime_funcs",
    sql="""
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS yr,
           CAST(month(ts) AS INTEGER) AS mo,
           CAST(day(ts) AS INTEGER) AS dy,
           CAST(quarter(ts) AS INTEGER) AS qtr,
           CAST(minute(ts) AS INTEGER) AS mi,
           strftime(ts + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
           strftime(ts + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
           strftime(last_day(ts), '%Y-%m-%d') AS month_end,
           CAST(datediff('day', ts, TIMESTAMP '2002-01-01') AS INTEGER)
             AS days_to_2002,
           CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_start_ms
    FROM events WHERE event_id % 7 = 0
    """,
)
def x_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the datetime scalar surface (extract parts, calendar
    arithmetic with month clamping, day diffs, truncation) pinned
    value-for-value against DuckDB. All pure Column expressions — one
    codegen stage, no shuffle."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    return e.select(
        "event_id",
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dy"),
        F.quarter("ts").alias("qtr"),
        F.minute("ts").alias("mi"),
        F.date_format(F.date_add(F.col("ts").cast("date"), 30), "yyyy-MM-dd").alias(
            "plus_30d"
        ),
        F.date_format(F.add_months(F.col("ts").cast("date"), 3), "yyyy-MM-dd").alias(
            "plus_3mo"
        ),
        F.date_format(F.last_day("ts"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("ts").cast("date")).alias(
            "days_to_2002"
        ),
        F.unix_millis(F.date_trunc("day", "ts")).alias("day_start_ms"),
    )


@_register(
    "x_string_funcs",
    sql="""
    SELECT p_partkey,
           substring(p_name, 1, 4) AS prefix4,
           strpos(p_name, ' ') AS space_at,
           split_part(p_name, ' ', 1) AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           translate(p_brand, '#', '_') AS brand_u,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           reverse(p_type) AS type_rev,
           repeat(left(p_type, 1), 3) AS initial3,
           levenshtein(p_name, 'red widget') AS dist_red_widget,
           concat_ws('|', p_brand, p_type) AS brand_type
    FROM part WHERE p_partkey % 5 = 0
    """,
)
def x_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the string scalar surface (substring/locate/split/
    regex-group extraction/translate/padding/edit distance) pinned
    value-for-value against DuckDB."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 4).alias("prefix4"),
        F.instr("p_name", " ").cast("long").alias("space_at"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.translate("p_brand", "#", "_").alias("brand_u"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_type").alias("type_rev"),
        F.repeat(F.substring("p_type", 1, 1), 3).alias("initial3"),
        F.levenshtein("p_name", F.lit("red widget")).cast("long").alias(
            "dist_red_widget"
        ),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


@_register(
    "x_null_semantics",
    sql="""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           count(bal) AS n_nonnull,
           count(DISTINCT bal IS NULL) AS null_classes,
           round(sum(bal), 2) AS sum_bal,
           round(avg(bal), 4) AS avg_bal,
           round(sum(coalesce(bal, 0.0)), 2) AS sum_bal_zeroed,
           round(min(nullif(bal, 0.0)), 2) AS min_nonzero
    FROM (SELECT c_mktsegment,
                 CASE WHEN c_acctbal < 0.0 THEN NULL ELSE c_acctbal END AS bal
          FROM customer)
    GROUP BY c_mktsegment
    """,
)
def x_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: SQL null semantics under aggregation — count(col) vs
    count(*), null-skipping sum/avg, coalesce backfill, nullif — pinned
    against DuckDB so the engines agree row-for-row on every null rule."""
    c = load(spark, sf_dir, "customer")
    bal = F.when(F.col("c_acctbal") < 0.0, F.lit(None)).otherwise(F.col("c_acctbal"))
    src = c.select("c_mktsegment", bal.alias("bal"))
    return src.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count("bal").alias("n_nonnull"),
        F.count_distinct(F.col("bal").isNull()).alias("null_classes"),
        F.round(F.sum("bal"), 2).alias("sum_bal"),
        F.round(F.avg("bal"), 4).alias("avg_bal"),
        F.round(F.sum(F.coalesce("bal", F.lit(0.0))), 2).alias("sum_bal_zeroed"),
        F.round(F.min(F.nullif(F.col("bal"), F.lit(0.0))), 2).alias("min_nonzero"),
    )


# One SQL text, two engines (SURVEY section 3.3: the reference's KSQL
# entry point maps to spark.sql). The string below is dialect-neutral
# and is submitted VERBATIM to both Spark SQL and the DuckDB oracle.
_SHARED_SQL = """
    SELECT o_orderpriority, n_name, total, rnk FROM (
      SELECT o_orderpriority, n_name,
             round(sum(o_totalprice), 2) AS total,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY sum(o_totalprice) DESC, n_name) AS rnk
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      GROUP BY o_orderpriority, n_name
    ) ranked WHERE rnk <= 3
"""


@_register("x_sql_entrypoint", sql=_SHARED_SQL)
def x_sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the SQL-string entry point. The exact oracle text runs
    through spark.sql() over temp views — Catalyst analyzes/optimizes the
    same plan the DataFrame API would produce (join + grouped agg +
    ranking window in one statement)."""
    for t in ("orders", "customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SHARED_SQL)


@_register(
    "x_grouped_map_zscore",
    sql="""
    SELECT event_id, event_type,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4)
             AS z
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def x_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: applyInPandas grouped-map UDF (SURVEY section 2.9) —
    per-event-type z-score computed with vectorized pandas inside Arrow
    batches, pinned against the equivalent window SQL. One shuffle on
    the group key; each group becomes one pandas DataFrame, so this is
    the pattern for per-group logic Spark lacks a built-in for."""
    import pandas as pd

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": ((pdf["value"] - mu) / sd).round(4),
            }
        )

    return e.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, z double"
    )


@_register(
    "x_array_funcs",
    sql="""
    SELECT p_partkey,
           CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
           list_contains(string_split(p_name, ' '), 'green') AS has_green,
           CAST(coalesce(list_position(string_split(p_name, ' '), 'green'), 0)
                AS BIGINT) AS green_at,
           array_to_string(list_slice(list_sort(string_split(p_name, ' ')), 1, 3),
                           ',') AS first3_sorted,
           CAST(len(list_distinct(string_split(p_name, ' '))) AS INTEGER)
             AS n_distinct,
           CAST(list_max(list_transform(string_split(p_name, ' '),
                                        w -> length(w))) AS INTEGER) AS longest,
           CAST(len(list_filter(string_split(p_name, ' '),
                                w -> length(w) > 4)) AS INTEGER) AS n_long,
           CAST(list_sum(list_transform(string_split(p_name, ' '),
                                        w -> length(w))) AS INTEGER) AS char_sum
    FROM part WHERE p_partkey % 3 = 0
    """,
)
def x_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the array scalar surface — size/contains/position/
    slice/sort/distinct plus the lambda higher-order functions
    (transform/filter/aggregate) — pinned value-for-value against
    DuckDB's list functions. Arrays are emitted as joined strings so the
    value hash is encoding-agnostic. Scale note: HOF lambdas run
    interpreted (outside codegen) and are excluded from subexpression
    elimination — fine for a surface pin, but hot paths should prefer
    the non-lambda forms (see README perf notes)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 3 == 0)
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.array_contains(words, "green").alias("has_green"),
        F.array_position(words, "green").alias("green_at"),
        F.array_join(F.slice(F.array_sort(words), 1, 3), ",").alias("first3_sorted"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.array_max(F.transform(words, F.length)).alias("longest"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long"),
        F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        ).alias("char_sum"),
    )


@_register(
    "x_map_funcs",
    sql="""
    SELECT p_partkey,
           CAST(cardinality(m) AS BIGINT) AS n_entries,
           CAST(coalesce(m['green'][1], -1) AS INTEGER) AS green_len,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
           CAST(list_sum(map_values(m)) AS INTEGER) AS len_sum
    FROM (
      SELECT p_partkey,
             map(ld, list_transform(ld, w -> CAST(length(w) AS INTEGER))) AS m
      FROM (SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS ld
            FROM part WHERE p_partkey % 4 = 0)
    )
    """,
)
def x_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the map-type scalar surface — construction from key/
    value arrays, keyed lookup (element_at, NULL when absent — DuckDB's
    m[k] yields a list, so the oracle takes [1]), key/value extraction,
    cardinality. Keys are deduplicated before construction: Spark's
    default mapKeyDedupPolicy=EXCEPTION makes duplicate keys a hard
    error, the behavior a distributed build should surface rather than
    silently last-wins."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 4 == 0)
    toked = p.select(
        "p_partkey",
        F.explode(
            F.array(F.array_distinct(F.split("p_name", " ")))
        ).alias("ld"),
    )
    m = F.map_from_arrays("ld", F.transform("ld", F.length))
    return toked.select(
        "p_partkey",
        F.size(m).cast("bigint").alias("n_entries"),
        F.coalesce(F.element_at(m, "green"), F.lit(-1)).alias("green_len"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.aggregate(
            F.map_values(m), F.lit(0), lambda acc, v: acc + v
        ).alias("len_sum"),
    )


@_register(
    "x_regexp_funcs",
    sql="""
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '[a-z]{5,}'), ',')
             AS long_words,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^[a-m]') AS starts_early,
           CAST(len(regexp_extract_all(p_type, '[A-Z]+')) AS INTEGER)
             AS n_upper_runs,
           regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num
    FROM part WHERE p_partkey % 6 = 0
    """,
)
def x_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the regex scalar surface — extract-all, global
    replace, boolean match, group extraction — pinned value-for-value
    against DuckDB. Patterns stay in the char-class/anchor/quantifier
    subset where Java regex (Spark) and RE2 (DuckDB) agree; lookarounds
    and backreferences are NOT portable across the two engines and are
    deliberately excluded from the engine's supported surface."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 6 == 0)
    return p.select(
        "p_partkey",
        F.array_join(F.regexp_extract_all("p_name", F.lit("[a-z]{5,}"), 0), ",").alias(
            "long_words"
        ),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^[a-m]").alias("starts_early"),
        F.size(F.regexp_extract_all("p_type", F.lit("[A-Z]+"), 0)).alias("n_upper_runs"),
        F.regexp_extract("p_brand", "([0-9]+)$", 1).alias("brand_num"),
    )


# IN / NOT IN with NULLs in the subquery — the classic three-valued-logic
# trap (NOT IN against a set containing NULL is never TRUE, so the query
# must return zero of those). One dialect-neutral text, both engines.
_IN_NULL_SQL = """
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_nationkey IN (SELECT CASE WHEN n_nationkey > 20 THEN NULL
                                         ELSE n_nationkey END
                             FROM nation)) AS n_in_with_null,
      (SELECT count(*) FROM customer
       WHERE c_nationkey NOT IN (SELECT CASE WHEN n_nationkey > 20 THEN NULL
                                             ELSE n_nationkey END
                                 FROM nation)) AS n_not_in_with_null,
      (SELECT count(*) FROM customer
       WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                 WHERE n_nationkey <= 20)) AS n_not_in_clean
"""


@_register("x_in_null_semantics", sql=_IN_NULL_SQL)
def x_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: IN / NOT IN subquery null semantics, pinned with one
    shared SQL text run verbatim on both engines. NOT IN against a set
    containing NULL must yield 0 rows (x <> NULL is UNKNOWN, so the
    conjunction never becomes TRUE) — the single most common silent-
    wrong-answer bug in hand-ported pipelines; the clean variant shows
    the anti-join Catalyst actually plans (null-aware anti join)."""
    for t in ("customer", "nation"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_IN_NULL_SQL)


@_register(
    "x_calendar_densify",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM (SELECT DISTINCT event_type FROM daily), b
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events
    FROM cal LEFT JOIN daily USING (event_type, d)
    """,
)
def x_calendar_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify a daily aggregate onto the full
    calendar (missing days become explicit zero rows) — the step every
    downstream window/trend computation silently requires. The calendar
    is generated from a one-row global bound via sequence()+explode and
    cross-joined against the distinct keys (both sides tiny, broadcast);
    the fact-side daily aggregate stays partial-aggregable. At 100 TB
    the dense calendar is |keys| x |days| rows — still dimension-sized,
    never fact-sized."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        daily.select("event_type").distinct()
        .join(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    return (
        cal.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@_register(
    "x_scd2_history",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
      SELECT user_id, event_type, ts, event_id
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             AS valid_to_ms
    FROM starts
    """,
)
def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD type-2) history build: collapse an
    event stream into validity intervals — one row per (key, value)
    run, valid_from/valid_to in epoch millis, open interval (NULL
    valid_to) for the current value. The standard batch construction
    for dimension history tables.

    Both windows share the same partitioning key, so Catalyst plans ONE
    exchange on user_id (the second window only re-sorts the already
    co-located, already-filtered segment starts). The event_id
    tie-break pins same-timestamp ordering across engines."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    return starts.select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
    )


@_register(
    "x_temporal_split",
    sql="""
    SELECT CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
                ELSE 'test' END AS split,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS min_ts_ms,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS max_ts_ms,
           CAST(sum(event_id % 1000003) AS BIGINT) AS id_checksum
    FROM events
    WHERE ts < TIMESTAMP '2024-01-20' OR ts >= TIMESTAMP '2024-01-22'
    GROUP BY 1
    """,
)
def x_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with a purge gap (embargo): train is
    everything before the cutoff, test starts a 2-day embargo AFTER
    it, and events inside the gap are excluded — the leakage guard for
    time-dependent targets (a model must not train on the horizon its
    test labels look across; de Prado's purged split). The complement
    of the hash splits (e6_dataset_split) and the cluster-safe split
    (e6_cluster_safe_split): those stop duplicate/near-duplicate
    leakage, this stops TEMPORAL leakage. The manifest pins exact
    membership by id checksum; min/max timestamps prove the embargo
    (max train ts < cutoff <= cutoff+gap <= min test ts).

    Scale shape: one filtered scan (both predicates reach the parquet
    reader as PushedFilters — at 100 TB with date-partitioned layout
    this prunes whole partitions), one partial-aggregable two-key
    aggregate. No shuffle beyond the 2-row final merge."""
    e = load(spark, sf_dir, "events")
    # typed literals (VERDICT r5 #6): comparing a timestamp column to a
    # bare string relies on implicit-cast behavior; an explicit
    # timestamp lit keeps the pushed filter type-stable across engines
    # and Spark versions
    cutoff = F.lit("2024-01-20").cast("timestamp")
    test_start = F.lit("2024-01-22").cast("timestamp")
    kept = e.filter(
        (F.col("ts") < cutoff) | (F.col("ts") >= test_start)
    )
    split = F.when(F.col("ts") < cutoff, "train").otherwise("test")
    return kept.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.unix_millis(F.min("ts")).alias("min_ts_ms"),
        F.unix_millis(F.max("ts")).alias("max_ts_ms"),
        F.sum(F.col("event_id") % 1000003).alias("id_checksum"),
    )


@_register(
    "x_funnel_steps",
    sql="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           1 + (s2.user_id IS NOT NULL)::INTEGER + (s3.user_id IS NOT NULL)::INTEGER
             AS reached_step,
           CAST(epoch_ms(t1) AS BIGINT) AS t1_ms,
           CAST(epoch_ms(t2) AS BIGINT) AS t2_ms,
           CAST(epoch_ms(t3) AS BIGINT) AS t3_ms
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def x_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view -> click -> purchase): per user, the first
    view, the first click strictly AFTER that view, and the first
    purchase strictly after that click — the ordered-sequence semantics
    a naive per-type min() gets wrong (a click before any view must not
    count). The standard product-analytics primitive.

    Scale shape: three conditional min-aggregations, every one keyed on
    user_id, and every join keyed on user_id — after the first exchange
    the whole cascade is co-partitioned (no re-shuffle); each stage's
    input is filtered to one event type before joining. No windows, no
    per-user event sorting."""
    e = load(spark, sf_dir, "events")
    # s1/s2 each feed the NEXT stage and the final assembly: lazily
    # localCheckpoint the per-user stage frames so each event-type
    # slice scans once (without this, s3's lineage re-derives s2 which
    # re-derives s1 — six scans for a three-stage funnel)
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=False)
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("reached_step"),
            F.unix_millis("t1").alias("t1_ms"),
            F.unix_millis("t2").alias("t2_ms"),
            F.unix_millis("t3").alias("t3_ms"),
        )
    )


@_register(
    "x_retention_cohorts",
    sql="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, cohort_week, date_trunc('week', e.ts) AS act_week
      FROM events e JOIN firsts USING (user_id)
    )
    SELECT CAST(epoch_ms(cohort_week) AS BIGINT) AS cohort_week_ms,
           CAST((epoch_ms(act_week) - epoch_ms(cohort_week))
                  // (7 * 86400000) AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity week,
    counted in each subsequent week they were active — the classic
    retention triangle. Week offsets are exact integer millis divisions
    of week-truncated timestamps (UTC session, no DST surface), so both
    engines agree bit-for-bit.

    Scale shape: one user-keyed min-aggregation, one user-keyed join
    (co-partitioned with the distinct that follows — the user_id
    exchange is reused), then a partial-aggregable count on the tiny
    (cohort, offset) key. The activity DISTINCT is per (user, week) —
    bounded by users x weeks, not event count."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("act_week"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.unix_millis("cohort_week").alias("cohort_week_ms"),
        F.floor(
            (F.unix_millis("act_week") - F.unix_millis("cohort_week"))
            / (7 * 86400000)
        ).alias("week_offset"),
    ).agg(F.count("*").alias("n_users"))


@_register(
    "x_incremental_agg_maintenance",
    # The ORACLE recomputes the view from scratch over the full range;
    # the Spark side maintains it incrementally (yesterday's base +
    # today's delta). A hash match therefore proves the maintenance
    # identity base ⊕ delta == full recompute across engines.
    sql="""
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS total_spend
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-07-01'
    GROUP BY o_custkey
    """,
)
def x_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance — the 100 TB primitive
    that replaces rescanning the corpus: yesterday's per-customer
    aggregate (orders before 1998-01-01) is MERGED with the new
    partition's delta aggregate (1998-01-01..1998-07-01) via one full
    outer join on the key; counts and sums combine additively. The
    DuckDB oracle computes the naive full recompute, so the hash match
    IS the proof that incremental == recompute.

    Determinism: money sums ride exact integer cents (sum order can
    differ between the incremental and recompute groupings — double
    addition is not associative, integer addition is).

    Scale shape: the delta side scans ONLY the new partition (partition
    pruning on o_orderdate); the base would be a stored table in
    production. One partial-aggregable groupBy per side + one
    key-co-partitioned merge join. No window, no corpus rescan."""
    orders = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def agg(df):
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n"), F.sum(cents).alias("c")
        )

    base = agg(orders.filter(F.col("o_orderdate") < "1998-01-01"))
    delta = agg(
        orders.filter(
            (F.col("o_orderdate") >= "1998-01-01")
            & (F.col("o_orderdate") < "1998-07-01")
        )
    )
    b = base.select(
        F.col("o_custkey").alias("k_b"), F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    d = delta.select(
        F.col("o_custkey").alias("k_d"), F.col("n").alias("n_d"), F.col("c").alias("c_d")
    )
    merged = b.join(d, F.col("k_b") == F.col("k_d"), "full_outer")
    return merged.select(
        F.coalesce(F.col("k_b"), F.col("k_d")).alias("o_custkey"),
        (F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))).alias(
            "n_orders"
        ),
        (
            (F.coalesce(F.col("c_b"), F.lit(0)) + F.coalesce(F.col("c_d"), F.lit(0)))
            / F.lit(100.0)
        ).alias("total_spend"),
    )


@_register(
    "x_mode_per_group",
    sql="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS mode_type, cnt FROM (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn
      FROM counts
    ) WHERE rn = 1
    """,
)
def x_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group with an EXPLICIT tie-break (highest
    count, then lexicographically smallest value). Built-in mode()
    functions leave ties engine-defined — Spark's F.mode and DuckDB's
    mode() may legitimately disagree — so the deterministic form is
    count + rank, which both engines execute identically. Shape: one
    partial-aggregable count on the composite key, one rank window on
    the group key (WindowGroupLimit prunes to the per-partition top-1
    before any full sort)."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "cnt")
    )


@_register(
    "x_snapshot_diff",
    sql="""
    WITH snap_a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    snap_b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-07-01' AND o_orderkey % 89 <> 1
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           a.o_orderstatus AS old_status, b.o_orderstatus AS new_status,
           a.o_totalprice AS old_price, b.o_totalprice AS new_price
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
    """,
)
def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff — the table-versioning primitive every
    ingest pipeline needs: given yesterday's and today's snapshot of a
    keyed table, emit added / removed / changed rows (with old and new
    values) and drop the unchanged majority. Here snapshot A is orders
    before 1998-01-01 and snapshot B extends the cutoff two quarters
    (to 1998-07-01), applies a deterministic in-place price mutation to
    o_orderkey % 97 rows, and drops o_orderkey % 89 = 1 rows, so all
    three change classes appear.

    Scale shape: ONE full outer sort-merge join co-partitioned on the
    key — both 100 TB snapshots shuffle once on o_orderkey and stream
    merge; the null-safe IS DISTINCT FROM compare runs inside the join
    stage, so only the (small) diff survives to the output. No
    broadcast (both sides are corpus-sized), no window, no second
    shuffle."""
    orders = load(spark, sf_dir, "orders")
    snap_a = orders.filter(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = orders.filter(
        (F.col("o_orderdate") < "1998-07-01") & (F.col("o_orderkey") % 89 != 1)
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return snapshot_diff(
        snap_a, snap_b, "o_orderkey",
        [("o_orderstatus", "old_status", "new_status"),
         ("o_totalprice", "old_price", "new_price")],
    )


def snapshot_diff(
    snap_a: DataFrame,
    snap_b: DataFrame,
    key_col: str,
    value_cols: list[tuple[str, str, str]],
) -> DataFrame:
    """Generic keyed-table diff: added / removed / changed rows between
    two snapshots, unchanged rows dropped. ``value_cols`` maps each
    compared column to its (old_alias, new_alias) output names.
    One full outer sort-merge join on the key; null-safe compares run
    inside the join stage (see x_snapshot_diff's plan notes)."""
    a = snap_a.select(
        F.col(key_col).alias("key_a"),
        *[F.col(c).alias(old) for c, old, _ in value_cols],
    )
    b = snap_b.select(
        F.col(key_col).alias("key_b"),
        *[F.col(c).alias(new) for c, _, new in value_cols],
    )
    joined = a.join(b, F.col("key_a") == F.col("key_b"), "full_outer")
    changed = F.col("key_a").isNull() | F.col("key_b").isNull()
    for _, old, new in value_cols:
        changed = changed | ~F.col(old).eqNullSafe(F.col(new))
    return joined.filter(changed).select(
        F.coalesce(F.col("key_a"), F.col("key_b")).alias(key_col),
        F.when(F.col("key_a").isNull(), "added")
        .when(F.col("key_b").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        *[c for _, old, new in value_cols for c in (old, new)],
    )


@_register(
    "x_locf_fill",
    sql="""
    SELECT event_id, event_type,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
    FROM (SELECT event_id, event_type, ts,
                 CASE WHEN value < 5.0 THEN NULL ELSE value END AS v
          FROM events WHERE event_id % 13 = 0)
    """,
)
def x_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series forward fill (LOCF — last observation carried
    forward): nulls take the most recent non-null value per key;
    ordering includes event_id so timestamp ties are deterministic.
    Leading nulls (no prior observation) stay NULL by design.

    Round 6: filled by operators/rank.stratified_locf — the two-pass
    distributed carry (range-partitioned sort, bounded per-(partition,
    key) last-non-null aggregate, carry-in-seeded fill kernel) instead
    of last(ignorenulls) over a per-event_type running window: with a
    handful of event types the window would forward-fill each type's
    entire 100 TB slice in one task. Fill values are carried verbatim,
    bit-identical to the window form."""
    from ..operators.rank import stratified_locf

    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    v = F.when(F.col("value") < 5.0, F.lit(None)).otherwise(F.col("value"))
    base = e.select("event_id", "event_type", "ts", v.alias("v"))
    filled = stratified_locf(
        base, ["event_type"], ["ts", "event_id"], "v", out_col="_f"
    )
    return filled.select(
        "event_id", "event_type", F.round("_f", 2).alias("filled")
    )


_REG_DEN = "n * sxx - sx * sx"
_REG_NUM = "n * sxy - sx * sy"


@_register(
    "x_group_regression",
    sql=f"""
    WITH q AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
             CAST(floor(value * 1000) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN {_REG_DEN} > 0
                THEN {ratio_round_big_sql(_REG_NUM, _REG_DEN, 6)}
                ELSE NULL END AS slope_milli,
           CASE WHEN {_REG_DEN} > 0
                THEN {ratio_round_big_sql(
                    f"sy * ({_REG_DEN}) - ({_REG_NUM}) * sx",
                    f"n * ({_REG_DEN})", 6)}
                ELSE NULL END AS intercept_milli,
           CASE WHEN {_REG_DEN} > 0 AND n * syy - sy * sy > 0
                THEN {ratio_round_big_sql(
                    f"({_REG_NUM}) * ({_REG_NUM})",
                    f"({_REG_DEN}) * (n * syy - sy * sy)", 6)}
                ELSE NULL END AS r2
    FROM s
    """,
)
def x_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: exact-integer OLS per group — slope/intercept of
    value (milli-quantized) on hour-of-day per event_type, the
    trend-per-segment pass of a feature/monitoring pipeline.

    Cross-engine determinism: y = floor(value * 1000) makes every
    moment sum an exact integer; slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2) and the intercept are rounded by
    functions/rounding.ratio_round_big — DECIMAL(38,0) arithmetic
    (HUGEINT in the DuckDB oracle) because these normal-equation
    products blow straight past ratio_round's 2^53 input ceiling at
    any real corpus size. Degenerate groups (constant x or constant y)
    yield NULL via the guarded CASE, not a division error. Bounds:
    slope/intercept (quadratic sums) stay exact to ~1e15 rows/group;
    r2's QUARTIC products cap a group at ~1e9 rows at milli
    quantization within DECIMAL(38,0) — beyond that, drop r2 or
    quantize coarser.

    Scale shape: one partial-aggregable groupBy(event_type) producing
    five integer sums — the classic mergeable-moments form (same
    family as x_stats_moments/e3_embedding_covariance); output is one
    row per group at any corpus size."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 1000).cast("long").alias("y"),
    )
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy, sxx, sxy, syy = [
        F.col(c).cast("decimal(20,0)")
        for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
    ]
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    den_y = n * syy - sy * sy
    return s.select(
        "event_type",
        "n",
        F.when(den > 0, ratio_round_big(num, den, 6)).alias("slope_milli"),
        F.when(den > 0, ratio_round_big(sy * den - num * sx, n * den, 6)).alias(
            "intercept_milli"
        ),
        # r^2 = num^2 / (den * den_y): explained variance share, exact
        # integer quartic sums (DECIMAL(38,0) holds them to ~1e38)
        F.when(
            (den > 0) & (den_y > 0), ratio_round_big(num * num, den * den_y, 6)
        ).alias("r2"),
    )


@_register(
    "x_event_gaps",
    sql=f"""
    WITH led AS (
      SELECT event_type,
             epoch_ms(lead(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id))
               - epoch_ms(ts) AS gap_ms
      FROM events
    )
    SELECT event_type, count(*) AS n_gaps,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
           CAST({ratio_round_big_sql('sum(gap_ms)', 'count(*)', 0)} AS BIGINT)
             AS avg_gap_ms
    FROM led WHERE gap_ms IS NOT NULL GROUP BY event_type
    """,
)
def x_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: inter-event gap profile per type (count / max / mean
    gap in ms) — the heartbeat-monitoring / sessionization-threshold
    pass of a time-series pipeline.

    Round-6 shape: successor timestamps come from
    operators/rank.stratified_lead (range-partitioned two-pass lead
    with boundary seeds), not `lead(ts) OVER (PARTITION BY
    event_type)` — a handful of event types would put each type's
    whole corpus slice through one window task. Gap values are exact
    integer millis; the mean rides ratio_round_big so the gap SUM has
    no 2^53 ceiling. Each stratum's final row has a NULL gap (no
    successor) and is filtered, exactly like the window form."""
    from ..operators.rank import stratified_lead

    e = load(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    led = stratified_lead(
        e, ["event_type"], ["ts", "event_id"], ["ts"], suffix="_next"
    )
    gaps = led.select(
        "event_type",
        (F.unix_millis("ts_next") - F.unix_millis("ts")).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.max("gap_ms").alias("max_gap_ms"),
        ratio_round_big(
            F.sum(F.col("gap_ms").cast("decimal(25,0)")), F.count("*"), 0
        )
        .cast("long")
        .alias("avg_gap_ms"),
    )


@_register(
    "x_gini",
    sql=f"""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value NULLS FIRST, event_id) AS rnk
      FROM events
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(v) AS sv,
             sum(CAST(rnk AS HUGEINT) * v) AS rv
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN sv > 0
                THEN {ratio_round_big_sql('2 * rv - (n + 1) * sv', 'n * sv', 6)}
                ELSE NULL END AS gini
    FROM s
    """,
)
def x_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: Gini concentration index per group — the inequality/
    dominance profile of a value distribution (the curation question
    "is this source's volume concentrated in a few heavy records?"),
    G = (2*sum(i*v_i))/(n*sum(v)) - (n+1)/n over values sorted
    ascending.

    The value ranks come from operators/rank.stratified_rank (ties
    broken by event_id — deterministic and identical in both engines,
    the standard distinct-rank Gini; the oracle states NULLS FIRST
    explicitly to match Spark's ASC default, per the engine's
    null-placement rule); v is milli-quantized so every term is an
    exact integer, BOTH moment sums go DECIMAL/HUGEINT before any
    multiply or accumulation (int64 products AND sums wrap at corpus
    scale — the round-6 lesson), and the final ratio rides
    ratio_round_big. Degenerate all-zero groups yield NULL via the
    guarded CASE.

    Scale shape: distributed rank (no per-type window) + one
    partial-aggregable groupBy; one row per group at any size."""
    from ..operators.rank import stratified_rank

    e = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("value").alias("_val"),
        F.floor(F.col("value") * 1000).cast("long").alias("v"),
    )
    ranked = stratified_rank(e, ["event_type"], ["_val", "event_id"])
    s = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(25,0)")).alias("sv"),
        F.sum(F.col("rnk").cast("decimal(20,0)") * F.col("v")).alias("rv"),
    )
    n = F.col("n").cast("decimal(38,0)")
    sv = F.col("sv")  # already decimal from the sum
    rv = F.col("rv")  # already decimal from the sum
    return s.select(
        "event_type",
        "n",
        F.when(
            F.col("sv") > 0,
            ratio_round_big(2 * rv - (n + 1) * sv, n * sv, 6),
        ).alias("gini"),
    )


@_register(
    "x_twap",
    sql=f"""
    WITH led AS (
      SELECT event_type,
             CAST(floor(value * 1000) AS BIGINT) AS v_milli,
             epoch_ms(lead(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id))
               - epoch_ms(ts) AS gap_ms
      FROM events
    )
    SELECT event_type,
           CAST(sum(gap_ms) AS BIGINT) AS span_ms,
           CAST({ratio_round_big_sql(
               'sum(CAST(v_milli AS HUGEINT) * gap_ms)', 'sum(gap_ms)', 0)}
                AS BIGINT) AS twap_milli
    FROM led WHERE gap_ms IS NOT NULL AND gap_ms > 0 GROUP BY event_type
    """,
)
def x_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: time-weighted average value per type (TWAP) — each
    observation weighted by how long it was current (the gap to its
    successor), the standard irregular-time-series average that a
    row-count mean gets wrong under uneven sampling.

    Composition of the round-6 distributed lead with exact-integer
    weighting: v_milli * gap_ms products sum in DECIMAL (no 2^53
    ceiling via ratio_round_big); each stratum's final observation
    (no successor, unbounded holding period) is excluded, as are
    zero-length gaps — both mirrored in the oracle. Same shape as
    x_event_gaps: one lead kernel + one partial-aggregable groupBy."""
    from ..operators.rank import stratified_lead

    e = load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    led = stratified_lead(
        e, ["event_type"], ["ts", "event_id"], ["ts"], suffix="_next"
    )
    gaps = led.select(
        "event_type",
        "v_milli",
        (F.unix_millis("ts_next") - F.unix_millis("ts")).alias("gap_ms"),
    ).filter(F.col("gap_ms") > 0)
    return gaps.groupBy("event_type").agg(
        F.sum("gap_ms").cast("long").alias("span_ms"),
        ratio_round_big(
            # v_milli cast to DECIMAL before the multiply: an int64
            # product wraps for a large value held over a months-long
            # gap (v_milli ~1e9 x gap_ms ~1e10 > 2^63)
            F.sum(F.col("v_milli").cast("decimal(20,0)") * F.col("gap_ms")),
            F.sum(F.col("gap_ms").cast("decimal(25,0)")),
            0,
        )
        .cast("long")
        .alias("twap_milli"),
    )


@_register(
    "x_range_join_buckets",
    sql="""
    WITH win AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_d,
             max(CAST(l_shipdate AS DATE)) AS end_d
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    w2 AS (SELECT * FROM win WHERE end_d >= start_d),
    b AS (SELECT min(start_d) AS lo, max(end_d) AS hi FROM w2),
    cal AS (
      SELECT last_day(CAST(unnest(generate_series(
               date_trunc('month', lo), date_trunc('month', hi),
               INTERVAL 1 MONTH)) AS DATE)) AS d
      FROM b
    )
    SELECT strftime(d, '%Y-%m-%d') AS snapshot_day,
           count(*) AS n_open,
           CAST(sum(date_diff('day', start_d, d)) AS BIGINT) AS total_age_days
    FROM cal JOIN w2 ON start_d <= d AND d <= end_d
    GROUP BY 1
    """,
)
def x_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: interval/range join via month bucketization — the
    open-order backlog at each month-end snapshot, where an order is
    "open" from o_orderdate until its last l_shipdate.

    A naive inequality join (cal.d BETWEEN start_d AND end_d) has no
    equi-key, so Spark plans BroadcastNestedLoopJoin: every fact row is
    tested against every snapshot date — O(facts x dates) comparisons
    and, with a large build side, a scale killer. The scale-right shape
    bucketizes BOTH sides by calendar month: each interval explodes
    into the months it spans (bounded fan-out: span/30 rows per order),
    the month-end calendar maps to its single month, and the join
    becomes a broadcast HASH join on the month key followed by the
    exact residual predicate — the standard range-join binning
    rewrite (Databricks' RANGE_JOIN hint, DuckDB's IEJoin literature)
    expressed with plain DataFrame ops.

    Scale: the fulfillment window itself is one co-partitioned
    orderkey join + groupBy (orders/lineitem both key-partitioned);
    interval explosion is map-side; the calendar is dimension-sized at
    any corpus (one row per month) so the month-key join broadcasts;
    the final groupBy is month-cardinality — partial-aggregable with
    map-side combine. No nested-loop anywhere; total_age_days is an
    exact integer sum (no float averaging drift)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_d")
    )
    last_ship = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("end_d"))
    )
    win = (
        o.join(last_ship, o.o_orderkey == last_ship.l_orderkey)
        .select("o_orderkey", "start_d", "end_d")
        .filter(F.col("end_d") >= F.col("start_d"))
        # round 13 (guide §1.2): win feeds the calendar-bounds agg (a
        # broadcast-side job) AND the interval explosion — without a
        # pin the orders |x| lineitem join + groupBy executes twice.
        # One materialization of the compact (orderkey, start, end)
        # interval table serves both consumers.
        .localCheckpoint(eager=False)
    )
    return backlog_snapshots(win)


def backlog_snapshots(win: DataFrame) -> DataFrame:
    """Bucketized-range-join core of x_range_join_buckets: given
    (start_d, end_d) interval rows, count the intervals covering each
    month-end snapshot via the month-key hash join. Shared with
    tools/scale_probe.py so the probe measures exactly the registered
    plan over a replicated interval table."""
    bounds = win.agg(F.min("start_d").alias("lo"), F.max("end_d").alias("hi"))
    month = F.expr("interval 1 month")
    cal = bounds.select(
        F.explode(
            F.sequence(F.trunc("lo", "MM"), F.trunc("hi", "MM"), month)
        ).alias("m0")
    ).select(F.col("m0"), F.last_day("m0").alias("d"))
    exploded = win.select(
        "o_orderkey",
        "start_d",
        "end_d",
        F.explode(
            F.sequence(F.trunc("start_d", "MM"), F.trunc("end_d", "MM"), month)
        ).alias("m0"),
    )
    return (
        exploded.join(F.broadcast(cal), "m0")
        .filter((F.col("start_d") <= F.col("d")) & (F.col("d") <= F.col("end_d")))
        .groupBy("d")
        .agg(
            F.count("*").alias("n_open"),
            F.sum(F.datediff("d", "start_d")).cast("long").alias("total_age_days"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("snapshot_day"),
            "n_open",
            "total_age_days",
        )
    )


_UDTF_CHUNK = 64


@_register(
    "x_sql_udtf_chunks",
    sql=f"""
    WITH n AS (
      SELECT doc_id AS id,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x <> '')) AS n
      FROM documents
    ),
    chunks AS (
      SELECT id, CAST(i AS INTEGER) AS chunk_idx,
             CASE WHEN (i + 1) * {_UDTF_CHUNK} <= n THEN {_UDTF_CHUNK}
                  ELSE n - i * {_UDTF_CHUNK} END AS n_tokens
      FROM (
        SELECT id, n,
               unnest(generate_series(0,
                      (n + {_UDTF_CHUNK} - 1) // {_UDTF_CHUNK} - 1)) AS i
        FROM n WHERE n > 0
      )
    )
    SELECT chunk_idx, count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM chunks GROUP BY chunk_idx
    """,
)
def x_sql_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the Spark-4 Python UDTF surface — a user-defined
    TABLE function callable from SQL (`LATERAL chunker(...)`), here a
    token-budget chunker (one output row per 64-token chunk of each
    document). The UDTF is ARROW-OPTIMIZED (`useArrow=True`, plans as
    ArrowEvalPythonUDTF — the engine-wide lint still bans row-mode
    BatchEvalPython) and receives only the precomputed token COUNT
    (JVM-side expression), never the text, so the Python boundary
    carries one int per doc. The set-returning logic itself is the
    API demonstration; the fully-vectorized expression form of the
    same chunking is e6_chunk_windows. Oracle: DuckDB lateral
    generate_series arithmetic."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int", useArrow=True)
    class Chunker:
        def eval(self, n):
            if n is None or n <= 0:
                return
            full = (n + _UDTF_CHUNK - 1) // _UDTF_CHUNK
            for i in range(full):
                yield i, min(_UDTF_CHUNK, n - i * _UDTF_CHUNK)

    spark.udtf.register("chunker", Chunker)
    load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.expr(
            "size(filter(split(lower(text), ' '), x -> x != ''))"
        ).alias("n"),
    ).createOrReplaceTempView("udtf_docs_n")
    return spark.sql(
        """
        SELECT c.chunk_idx, count(*) AS n_chunks,
               CAST(sum(c.n_tokens) AS BIGINT) AS total_tokens
        FROM udtf_docs_n t, LATERAL chunker(t.n) c
        GROUP BY c.chunk_idx
        """
    )


@_register(
    "x_feature_matrix",
    sql="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             count(*) AS n_events,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           CAST(isodow(d) AS INTEGER) AS dow,
           n_events, n_types,
           lag(n_events) OVER w AS lag1_n,
           CAST(sum(n_events) OVER (w ROWS BETWEEN 6 PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS roll7_n,
           CAST(row_number() OVER w AS INTEGER) AS day_seq
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY d)
    """,
)
def x_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: ML FEATURE-ENGINEERING matrix — per (user, observed
    day): activity counts, type diversity, lag-1, 7-observed-day
    rolling sum, ISO day-of-week, and the user's day sequence index —
    the lag/rolling feature block a training pipeline materializes
    before model fitting. All-integer features, exact cross-engine.

    Scale shape: the window partitions on user_id — the POPULATION key
    (cardinality scales WITH the corpus), so per-task work is
    corpus/n_users-bounded and window partitions stay tiny; this is
    the regime where `Window.partitionBy` is the right tool, in
    explicit contrast to the low-cardinality strata the distributed
    rank family (operators/rank.py) exists for. The plan exchanges
    THREE times — (user, day, type) partials, (user, day) dailies,
    then user for the windows — but the raw event rows collapse
    map-side in the FIRST partial aggregation, so every exchange
    carries aggregated rows that shrink monotonically (~events/100 at
    this fixture); that beats the one-exchange alternative
    (repartition the raw corpus by user once) exactly at scale, where
    the raw shuffle is the thing to avoid. Lags are over OBSERVED
    days (gap-free calendars are x_calendar_densify's job,
    composable upstream)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("d")
    w7 = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.expr("weekday(d)") + 1).cast("int").alias("dow"),
        "n_events",
        "n_types",
        F.lag("n_events").over(w).alias("lag1_n"),
        F.sum("n_events").over(w7).cast("long").alias("roll7_n"),
        F.row_number().over(w).cast("int").alias("day_seq"),
    )
