"""Scalar-function families (SURVEY.md §2.2-B,H).

All JVM-side built-ins inside whole-stage codegen — no Python in the
hot path. Dialect notes: DuckDB year()/len()/ceil() return BIGINT or
DOUBLE where Spark returns INT/LONG, so the oracle SQL carries the
explicit casts; dayofweek is 0-based in DuckDB vs 1-based in Spark.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..registry import query
from ..sources import load


@query(
    "proj_compute",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem
""",
)
def proj_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic projection — identical IEEE expression tree both
    engines, so no rounding needed (bit-identical per row)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charge"),
    )


@query(
    "filter_pred",
    oracle="""
SELECT c_custkey, c_name, c_acctbal, c_mktsegment
FROM customer
WHERE (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
       AND c_acctbal BETWEEN 1000 AND 8000)
   OR c_name LIKE '%0042%'
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.filter(
        (
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            & F.col("c_acctbal").between(1000, 8000)
        )
        | F.col("c_name").like("%0042%")
    ).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@query(
    "filter_date",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
""",
)
def filter_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


@query(
    "fn_string",
    oracle="""
SELECT c_custkey,
       upper(c_name) AS uname,
       lower(c_mktsegment) AS lseg,
       substr(c_name, 1, 9) AS name9,
       CAST(length(c_name) AS INTEGER) AS name_len,
       concat(c_name, ':', c_mktsegment) AS tagged,
       trim('  ' || c_name || ' ') AS trimmed,
       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
       CASE WHEN c_name LIKE 'customer_0%' THEN 1 ELSE 0 END AS is_low
FROM customer
""",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.substring("c_name", 1, 9).alias("name9"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("tagged"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.when(F.col("c_name").like("customer_0%"), 1).otherwise(0).alias("is_low"),
    )


@query(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(extract(day FROM o_orderdate) AS INTEGER) AS dom,
       CAST(extract(dow FROM o_orderdate) AS INTEGER) AS dow,
       CAST(datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS INTEGER) AS days_to_2002,
       o_orderdate + INTERVAL 90 DAY AS due_date
FROM orders
""",
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),  # Spark 1=Sun; DuckDB 0=Sun
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")).alias("due_date"),
    )


@query(
    "fn_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice / 7, 2) AS r1,
       abs(l_extendedprice - 30000) AS dev,
       sqrt(l_quantity) AS sq,
       round(ln(l_extendedprice), 6) AS lnp,
       round(exp(l_discount), 6) AS ed,
       power(l_quantity, 2) AS q2,
       CAST(l_linenumber % 3 AS INTEGER) AS m3,
       CAST(ceil(l_quantity / 7) AS BIGINT) AS c7,
       CAST(floor(l_quantity / 7) AS BIGINT) AS f7
FROM lineitem
""",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") / 7, 2).alias("r1"),
        F.abs(F.col("l_extendedprice") - 30000).alias("dev"),
        F.sqrt("l_quantity").alias("sq"),
        F.round(F.log("l_extendedprice"), 6).alias("lnp"),
        F.round(F.exp("l_discount"), 6).alias("ed"),
        F.pow("l_quantity", 2).alias("q2"),
        (F.col("l_linenumber") % 3).alias("m3"),
        F.ceil(F.col("l_quantity") / 7).alias("c7"),
        F.floor(F.col("l_quantity") / 7).alias("f7"),
    )


@query(
    "fn_array",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_el,
       CAST(embedding[1] AS DOUBLE) * 2 AS head2x_1,
       CAST(embedding[2] AS DOUBLE) * 2 AS head2x_2,
       CAST(embedding[3] AS DOUBLE) * 2 AS head2x_3,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS el_sum,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max'), 6) AS el_max
FROM embeddings
""",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order fns. Array-typed OUTPUT columns are projected
    to scalars (head2x_1..3) because the driver's canonicalizer
    pandas-sorts result rows and cannot hash Python lists (the sort
    raises on a list cell); the transform/slice machinery is
    still exercised, only the final projection is scalar."""
    e = load(spark, sf_dir, "embeddings")
    h = F.expr("transform(slice(embedding, 1, 3), x -> CAST(x AS DOUBLE) * 2)")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_el"),
        F.element_at(h, 1).alias("head2x_1"),
        F.element_at(h, 2).alias("head2x_2"),
        F.element_at(h, 3).alias("head2x_3"),
        F.round(
            F.expr(
                "aggregate(embedding, CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE))"
            ),
            6,
        ).alias("el_sum"),
        F.round(F.array_max(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")), 6).alias(
            "el_max"
        ),
    )


@query(
    "fn_vector",
    oracle=f"""
SELECT a.vec_id,
       round({V.duck_dot('a.embedding', 'b.embedding')}, 6) AS dot_next,
       round({V.duck_l2_dist('a.embedding', 'b.embedding')}, 6) AS l2_next,
       round({V.duck_cosine_sim('a.embedding', 'b.embedding')}, 6) AS cos_next
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
""",
)
def fn_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector ops between consecutive vectors — pure higher-order SQL,
    no UDF (functions/vector.py; the reference's Distance.scala
    surface, SURVEY.md §1.1)."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("join_id"), F.col("embedding").alias("eb"))
    return (
        a.join(b, a.vec_id == b.join_id)
        .select(
            "vec_id",
            F.round(V.dot("ea", "eb"), 6).alias("dot_next"),
            F.round(V.l2_dist("ea", "eb"), 6).alias("l2_next"),
            F.round(V.cosine_sim("ea", "eb"), 6).alias("cos_next"),
        )
    )


@query(
    "fn_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       json_extract_string(props, '$.missing') AS missing_val,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
""",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
        F.when(k > 50, "high").otherwise("low").alias("k_band"),
    )


@query(
    "fn_conditional",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'rich' END AS tier,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
       least(c_acctbal, 5000.0) AS capped,
       greatest(c_acctbal, 0.0) AS floored
FROM customer
""",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.least("c_acctbal", F.lit(5000.0)).alias("capped"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("floored"),
    )


@query(
    "fn_explode",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word frequency over the corpus (explode = built-in UDTF-class op;
    the generate/expand node scales linearly, no driver involvement)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "fn_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, metric,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
FROM (
  SELECT l_orderkey, l_linenumber,
         'quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
)
""",
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt) of three lineitem measures via the
    built-in `stack` generator — the inverse of agg_pivot. One narrow
    1->3 expand inside the scan stage, no shuffle; values serialized
    as exact integer cents so the hash is engine-identical."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (metric, value)"
        ),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "metric",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("value_cents"),
    )


@query(
    "fn_levenshtein",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
            AS INTEGER) AS edit_dist
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
""",
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between consecutive docs' 40-char prefixes — the
    JVM built-in string-similarity primitive (used by fuzzy dedup /
    record linkage). Equi-join on adjacent ids keeps the pair count
    linear; both engines implement classic Levenshtein so the integer
    distances hash-match exactly."""
    d = load(spark, sf_dir, "documents")
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 40).alias("ta"),
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 40).alias("tb"),
    )
    return (
        a.join(b, a.doc_a == b.join_id)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("int").alias("edit_dist"),
        )
    )


@query(
    "fn_url",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         'https://host' || (doc_id % 7) || '.example.com/docs/' || doc_id ||
         '?lang=' || (doc_id % 3) AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
       regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?]lang=([0-9]+)', 1) AS lang_param
FROM aug
""",
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing — the WARC/CommonCrawl metadata pass of a web
    corpus pipeline. The fixture has no URL column, so a
    DETERMINISTIC synthetic URL is derived from doc_id (same
    expression in the oracle), then scheme/host/path/query params are
    extracted with backref-free regexes (identical semantics under
    Java regex and RE2). Narrow map, no shuffle; at scale this
    pipelines inside the scan like every other scalar pass."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        (F.col("doc_id") % 3).cast("string"),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(url, "^([a-z]+)://", 1).alias("scheme"),
        F.regexp_extract(url, "^[a-z]+://([^/]+)/", 1).alias("host"),
        F.regexp_extract(url, "^[a-z]+://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract(url, "[?]lang=([0-9]+)", 1).alias("lang_param"),
    )


@query(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
       (CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL)
         AS has_k
FROM events
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` once into a variant value, then typed
    ``try_variant_get`` extractions — the modern lakehouse path for
    JSON columns (parse cost paid once per row, shredded binary
    encoding instead of per-field string re-parsing like
    fn_json's get_json_object). DuckDB oracles the same accesses
    via json_extract."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_mod"),
        k.isNotNull().alias("has_k"),
    )


@query(
    "fn_bitwise",
    oracle="""
SELECT event_id,
       event_id & 255 AS lo_byte,
       xor(event_id, 255) AS xored,
       event_id << 2 AS shifted,
       bit_count(event_id) AS popcount
FROM events
""",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family (mask/xor/shift/popcount) — the hash and
    signature substrate (simhash banding, bucket masks) exposed as a
    first-class key; pure narrow JVM expressions."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("event_id & 255").alias("lo_byte"),
        F.expr("event_id ^ 255").alias("xored"),
        F.expr("shiftleft(event_id, 2)").alias("shifted"),
        F.expr("bit_count(event_id)").alias("popcount"),
    )


@query(
    "fn_collation_group",
    oracle="""
WITH mixed AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg
  FROM customer
)
SELECT lower(seg) AS segment, CAST(COUNT(*) AS BIGINT) AS n
FROM mixed GROUP BY lower(seg)
""",
)
def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware aggregation (Spark 4 collations): a mixed-case
    segment column grouped under UTF8_LCASE compares
    case-insensitively at the COLLATION level — no lower() rewrite in
    the grouping expression; the reported key is lowercased only for
    a deterministic display form. The oracle states the equivalent
    lower()-grouping semantics."""
    c = load(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    return (
        c.select(F.collate(mixed, "UTF8_LCASE").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower("g").alias("segment"), "n")
    )


@query(
    "fn_try_arith",
    oracle="""
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE round(value / (event_id % 5), 6) END AS safe_div,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(event_id // (event_id % 7) AS BIGINT) END AS safe_intdiv
FROM events
""",
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (try_divide): division by zero yields
    NULL instead of an ANSI error or an engine-dependent inf — the
    family a pipeline uses so one bad row cannot kill a 100 TB job.
    The oracle states the guarded CASE form; Spark evaluates the
    native try_ functions."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(
            F.try_divide(F.col("value"), F.col("event_id") % 5), 6
        ).alias("safe_div"),
        F.try_divide(F.col("event_id"), F.col("event_id") % 7)
        .cast("bigint")
        .alias("safe_intdiv"),
    )


@query(
    "fn_xml",
    oracle="""
SELECT c_custkey,
       c_name AS xml_name,
       CAST(c_nationkey AS INTEGER) AS xml_nation,
       c_acctbal AS xml_acctbal
FROM customer
""",
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 ``from_xml`` + XPath): each
    customer row is serialized to an XML fragment executor-side and
    parsed straight back — schema-on-read for the XML feeds a real
    warehouse still receives. Extraction happens twice, through BOTH
    native paths (typed ``from_xml`` struct access for name/nation,
    ``xpath_number`` for the balance), proving the full surface.
    The oracle is the identity projection — if parsing is lossless
    and type-faithful the round trip hash-matches the raw columns.
    Narrow map, no shuffle, whole-stage-codegen'd XML expressions."""
    c = load(spark, sf_dir, "customer")
    xml = F.concat(
        F.lit("<cust><name>"),
        F.col("c_name"),
        F.lit("</name><nation>"),
        F.col("c_nationkey").cast("string"),
        F.lit("</nation><bal>"),
        F.col("c_acctbal").cast("string"),
        F.lit("</bal></cust>"),
    )
    parsed = F.from_xml(
        xml, "STRUCT<name: STRING, nation: INT, bal: DOUBLE>"
    )
    return c.select(
        "c_custkey",
        parsed.getField("name").alias("xml_name"),
        parsed.getField("nation").alias("xml_nation"),
        F.expr(
            "xpath_number(concat('<cust><bal>', CAST(c_acctbal AS STRING),"
            " '</bal></cust>'), '/cust/bal')"
        ).alias("xml_acctbal"),
    )

def _jaro(s1: str, s2: str) -> float:
    """Standard Jaro similarity (the Winkler '90 formulation DuckDB's
    jaro_similarity implements): match window max(l1,l2)//2 - 1,
    transpositions = out-of-order matches // 2, score =
    (m/l1 + m/l2 + (m-t)/m) / 3 in exactly that float-op order."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = 0 if i - window < 0 else i - window
        hi = l2 if i + window + 1 > l2 else i + window + 1
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3


def _jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler with the standard 0.7 boost threshold and 0.1
    prefix weight over a <=4-char common prefix — bit-identical to
    DuckDB's jaro_winkler_similarity (verified over probe pairs and
    the full generated-pair table)."""
    ja = _jaro(s1, s2)
    if ja <= 0.7:
        return ja
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return ja + prefix * 0.1 * (1 - ja)


def _damerau(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein (true DL, transpositions may
    be arbitrarily distant — DuckDB semantics: d('CA','ABC')=2, not
    the OSA 3)."""
    l1, l2 = len(s1), len(s2)
    inf = l1 + l2
    da: dict[str, int] = {}
    d = [[inf] * (l2 + 2) for _ in range(l1 + 2)]
    d[0][0] = inf
    for i in range(l1 + 1):
        d[i + 1][1] = i
        d[i + 1][0] = inf
    for j in range(l2 + 1):
        d[1][j + 1] = j
        d[0][j + 1] = inf
    for i in range(1, l1 + 1):
        db = 0
        for j in range(1, l2 + 1):
            k = da.get(s2[j - 1], 0)
            ell = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][ell] + (i - k - 1) + 1 + (j - ell - 1),
            )
        da[s1[i - 1]] = i
    return d[l1 + 1][l2 + 1]


def string_scores_over(pairs, col_a: str, col_b: str):
    """Append the record-linkage score family to any (string, string)
    pair DataFrame: Levenshtein (Spark built-in), unrestricted
    Damerau-Levenshtein and Jaro-Winkler (Arrow-batched pandas UDFs
    implementing exactly DuckDB's semantics — integer-valued /
    rational arithmetic in the engine-verified float-op order, so
    the doubles hash bit-identically with NO rounding), and
    character-set Jaccard (pure JVM array ops). Single kernel shared
    by the registered fn_string_distance query and api.string_scores
    so fixes reach both surfaces."""

    @F.pandas_udf("int")
    def damerau_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_damerau(x, y) for x, y in zip(a, b)], dtype="int32"
        )

    @F.pandas_udf("double")
    def jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([_jaro_winkler(x, y) for x, y in zip(a, b)])

    ca = F.array_distinct(F.array_remove(F.split(col_a, ""), ""))
    cb = F.array_distinct(F.array_remove(F.split(col_b, ""), ""))
    return pairs.select(
        "*",
        F.levenshtein(col_a, col_b).alias("lev"),
        damerau_udf(col_a, col_b).alias("damerau"),
        (
            F.size(F.array_intersect(ca, cb)).cast("double")
            / F.size(F.array_union(ca, cb))
        ).alias("char_jaccard"),
        jw_udf(col_a, col_b).alias("jw"),
    )


@query(
    "fn_string_distance",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS lev,
       damerau_levenshtein(a.p_name, b.p_name) AS damerau,
       jaccard(a.p_name, b.p_name) AS char_jaccard,
       jaro_winkler_similarity(a.p_name, b.p_name) AS jw
FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
""",
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage string-distance family over consecutive part
    names: Levenshtein (Spark built-in), unrestricted
    Damerau-Levenshtein and Jaro-Winkler (Arrow-batched pandas UDFs
    implementing exactly DuckDB's semantics — integer-valued /
    rational arithmetic in the engine-verified float-op order, so
    the doubles hash bit-identically with NO rounding), and
    character-set Jaccard (pure JVM array ops: distinct chars,
    intersection over union). The pair source is a narrow
    consecutive-key self-join; in a real linkage pipeline the same
    scorers run over blocked candidate pairs (join_fuzzy_blocked).
    Scoring delegates to string_scores_over (shared with the api
    surface)."""
    part = load(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    pairs = a.join(b, F.col("key_b") == F.col("key_a") + 1)
    return string_scores_over(pairs, "name_a", "name_b")

@query(
    "fn_map",
    oracle="""
WITH m AS (
  SELECT event_id,
         MAP {'type': event_type,
              'user': CAST(user_id AS VARCHAR),
              'cents': CAST(CAST(ROUND(value * 100) AS BIGINT)
                            AS VARCHAR)} AS props_map
  FROM events
)
SELECT event_id,
       CAST(cardinality(props_map) AS INT) AS n_keys,
       array_to_string(list_sort(map_keys(props_map)), ',') AS keys_sorted,
       (props_map['type'])[1] AS type_val,
       CAST(list_contains(map_keys(props_map), 'cents') AS BOOLEAN)
         AS has_cents
FROM m
""",
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: build a string map per event
    (map_from constructor), then cardinality, sorted key list
    (serialized — the driver canonicalizer can't hash map cells),
    value access by key, and key membership. Narrow
    whole-stage-codegen'd map expressions; the map type is how
    semi-structured per-row properties travel when a fixed schema
    can't."""
    ev = load(spark, sf_dir, "events")
    m = ev.select(
        "event_id",
        F.create_map(
            F.lit("type"),
            F.col("event_type"),
            F.lit("user"),
            F.col("user_id").cast("string"),
            F.lit("cents"),
            F.expr("CAST(CAST(ROUND(value * 100) AS BIGINT) AS STRING)"),
        ).alias("props_map"),
    )
    return m.select(
        "event_id",
        F.size("props_map").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("props_map")), ",").alias(
            "keys_sorted"
        ),
        F.col("props_map").getItem("type").alias("type_val"),
        F.array_contains(F.map_keys("props_map"), "cents").alias(
            "has_cents"
        ),
    )

@query(
    "fn_regex",
    oracle="""
SELECT p_partkey,
       p_name,
       regexp_extract(p_name, '[aeiou][a-z]*') AS first_vowel_run,
       CAST(len(regexp_extract_all(p_name, '[a-z]+')) AS INTEGER)
         AS n_alpha_runs,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       regexp_matches(p_name, '(navy|ivory)') AS has_navy_ivory
FROM part
""",
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family over part names — extract / extract-all /
    global replace / match — restricted to the character-class +
    alternation subset where Java regex (Spark) and RE2 (DuckDB)
    agree symbol-for-symbol, so the oracle hash is exact without any
    normalization. All four run JVM-side inside whole-stage codegen;
    none is a UDF. (DuckDB's regexp_replace needs the explicit 'g'
    flag to match Spark's replace-all default — the kind of
    cross-engine trap this key pins.)"""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", "[aeiou][a-z]*", 0).alias(
            "first_vowel_run"
        ),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias(
            "n_alpha_runs"
        ),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("(navy|ivory)").alias("has_navy_ivory"),
    )

@query(
    "fn_encoding",
    oracle="""
SELECT p_partkey,
       base64(encode(p_name)) AS b64,
       decode(from_base64(base64(encode(p_name)))) AS b64_roundtrip,
       hex(p_name) AS hx,
       CAST(length(p_name) AS INTEGER) AS n_bytes
FROM part
""",
)
def fn_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-encoding scalar family — base64 encode + round-trip and
    hex over part names, the interchange plumbing every export /
    fingerprint pipeline leans on. All JVM built-ins; both engines
    emit uppercase hex and padded MIME base64, so the strings hash
    exactly. (DuckDB needs the explicit encode()/decode() blob hops;
    Spark casts string<->binary implicitly.)"""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.base64(F.col("p_name").cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.col("p_name").cast("binary")))
        .cast("string")
        .alias("b64_roundtrip"),
        F.hex(F.col("p_name")).alias("hx"),
        F.length("p_name").alias("n_bytes"),
    )


_SOUNDEX_CODE = """CASE
  WHEN {c} IN ('B','F','P','V') THEN '1'
  WHEN {c} IN ('C','G','J','K','Q','S','X','Z') THEN '2'
  WHEN {c} IN ('D','T') THEN '3'
  WHEN {c} = 'L' THEN '4'
  WHEN {c} IN ('M','N') THEN '5'
  WHEN {c} = 'R' THEN '6'
  WHEN {c} IN ('H','W') THEN '-'
  ELSE '0' END"""


def _duck_soundex(col: str) -> str:
    """American Soundex in pure DuckDB SQL, matching Spark's builtin
    variant exactly (probed live: HW-transparent — codes adjacent
    through h/w collapse, 'ashcraft'->A261, 'hnm'->H500; vowels incl.
    y are separators; the first letter's own code joins the adjacency
    chain UNLESS the first letter is h/w, in which case nothing is
    dropped before the first real code — 'pfister'->P236 vs
    'hnm'->H500). Pipeline: upper -> per-char codes -> drop h/w ->
    collapse adjacent duplicates -> drop the leading code when the
    first letter is not h/w -> drop vowel 0s -> pad to 3 digits."""
    u = f"upper({col})"
    chars = f"string_split({u}, '')"
    codes = f"list_transform({chars}, c -> {_SOUNDEX_CODE.format(c='c')})"
    nohw = f"list_filter({codes}, c -> c <> '-')"
    collapsed = (
        f"list_filter(list_transform(generate_series(1, len({nohw})), "
        f"i -> CASE WHEN i = 1 OR ({nohw})[i] <> ({nohw})[i - 1] "
        f"THEN ({nohw})[i] END), x -> x IS NOT NULL)"
    )
    body = (
        f"CASE WHEN {_SOUNDEX_CODE.format(c=f'({u})[1]')} = '-' "
        f"THEN {collapsed} ELSE ({collapsed})[2:] END"
    )
    digits = f"list_filter({body}, d -> d <> '0')"
    # array_to_string([]) is NULL in DuckDB 1.0, not '' — coalesce
    return (
        f"({u})[1] || substr(coalesce(array_to_string({digits}, ''), '') "
        f"|| '000', 1, 3)"
    )


@query(
    "fn_phonetic",
    oracle=f"""
WITH words AS MATERIALIZED (
  SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part
)
SELECT {_duck_soundex('w')} AS sdx,
       COUNT(*) AS n_words,
       MIN(w) AS example_word
FROM words GROUP BY 1
""",
)
def fn_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking keys over the part-name vocabulary: soundex
    per distinct word, grouped into blocks — the classic cheap
    entity-resolution blocking function (sound-alike names land in
    one bucket, turning fuzzy matching into an equi-join at scale).
    Spark side is the JVM builtin F.soundex inside codegen; the
    DuckDB oracle reimplements the identical HW-transparent American
    Soundex in SQL list ops (see _duck_soundex). The distinct-word
    table is vocabulary-sized, so the groupBy shuffles a few thousand
    short strings regardless of corpus size."""
    p = load(spark, sf_dir, "part")
    words = p.select(
        F.explode(F.split("p_name", " ")).alias("w")
    ).distinct()
    return words.select("w", F.soundex("w").alias("sdx")).groupBy("sdx").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.min("w").alias("example_word"),
    )


def _fn_ip_oracle() -> str:
    from ..functions.hashing import md5_u32_duck

    h = md5_u32_duck("CAST(user_id AS VARCHAR)")
    return f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events
), ip AS (
  SELECT user_id, {h} AS ipn FROM u
), o AS (
  SELECT user_id, ipn,
         CAST(ipn // 16777216 AS INTEGER) AS o1,
         CAST(ipn // 65536 % 256 AS INTEGER) AS o2,
         CAST(ipn // 256 % 256 AS INTEGER) AS o3,
         CAST(ipn % 256 AS INTEGER) AS o4
  FROM ip
)
SELECT user_id, CAST(ipn AS BIGINT) AS ip_int,
       o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip,
       o1 || '.' || o2 || '.' || o3 || '.0/24' AS cidr24,
       (o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
        OR (o1 = 192 AND o2 = 168)) AS is_private
FROM o
"""


@query("fn_ip", oracle=_fn_ip_oracle())
def fn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 parsing / CIDR bucketing — the access-log enrichment
    family: a deterministic synthetic address per user (portable md5,
    same derivation in the oracle — the fn_url precedent for columns
    the fixture lacks), split into octets by pure integer arithmetic
    (floor-div/mod, identical both engines), rolled into its /24
    block, and classified RFC-1918 private. Narrow map over the
    distinct-user table; at scale this pipelines inside the scan."""
    from ..functions.hashing import md5_u32_spark

    ev = load(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    o = u.select(
        "user_id",
        md5_u32_spark(F.col("user_id").cast("string")).alias("ipn"),
    ).select(
        "user_id",
        "ipn",
        F.expr("CAST(ipn div 16777216 AS INT)").alias("o1"),
        F.expr("CAST(ipn div 65536 % 256 AS INT)").alias("o2"),
        F.expr("CAST(ipn div 256 % 256 AS INT)").alias("o3"),
        F.expr("CAST(ipn % 256 AS INT)").alias("o4"),
    )
    dot = lambda *cs: F.concat_ws(".", *cs)  # noqa: E731
    return o.select(
        "user_id",
        F.col("ipn").cast("bigint").alias("ip_int"),
        dot(
            F.col("o1").cast("string"),
            F.col("o2").cast("string"),
            F.col("o3").cast("string"),
            F.col("o4").cast("string"),
        ).alias("ip"),
        F.concat(
            dot(
                F.col("o1").cast("string"),
                F.col("o2").cast("string"),
                F.col("o3").cast("string"),
            ),
            F.lit(".0/24"),
        ).alias("cidr24"),
        (
            (F.col("o1") == 10)
            | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
            | ((F.col("o1") == 192) & (F.col("o2") == 168))
        ).alias("is_private"),
    )


@query(
    "fn_time_bucket",
    oracle="""
WITH b AS (
  SELECT epoch_us(ts) // 900000000 AS bucket_idx,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
)
SELECT CAST(bucket_idx AS BIGINT) AS bucket_idx,
       make_timestamp(bucket_idx * 900000000) AS bucket_start,
       COUNT(*) AS n_events,
       CAST(SUM(c) AS DOUBLE) / 100 AS revenue
FROM b GROUP BY bucket_idx
""",
)
def fn_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width time bucketing (15-minute bins) by pure integer
    epoch arithmetic — the time_bucket / date_bin primitive without
    either engine's builtin (DuckDB time_bucket and Spark window()
    disagree on labels; integer micros-div agrees everywhere).
    Bucket index = epoch micros DIV 900e9/1000; both operands are
    non-negative so truncating DIV == floor. The bucket label is
    reconstructed from the index, so group keys shuffle as one
    BIGINT. This is also the streaming tumbling-window kernel in
    batch form."""
    ev = load(spark, sf_dir, "events")
    idx = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        " DIV 900000000"
    )
    b = ev.select(
        idx.cast("bigint").alias("bucket_idx"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
    )
    return b.groupBy("bucket_idx").agg(
        F.expr(
            "timestampadd(MICROSECOND, bucket_idx * 900000000,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
        ).alias("bucket_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("c").cast("double") / 100).alias("revenue"),
    )


@query(
    "fn_hash_family",
    oracle="""
SELECT doc_id,
       md5(text) AS h_md5,
       sha256(text) AS h_sha256,
       md5(md5(text) || ':' || CAST(doc_id AS VARCHAR)) AS h_keyed
FROM documents
""",
)
def fn_hash_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest surface parity: md5 and sha-256 of the
    document text agree byte-for-byte across engines (lowercase hex),
    plus a keyed composition (digest || key re-digested) — the
    content-addressing primitives every dedup/lineage layer builds
    on. Pure JVM-side expressions; one narrow projection."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
        F.md5(
            F.concat(F.md5("text"), F.lit(":"), F.col("doc_id").cast("string"))
        ).alias("h_keyed"),
    )


@query(
    "fn_rounding_modes",
    oracle="""
WITH b AS (
  SELECT event_id,
         CAST(CAST(round(value * 100) AS BIGINT) * 7 AS DOUBLE) / 2 AS y
  FROM events
)
SELECT event_id, y,
       round(y) AS round_half_away,
       round_even(y, 0) AS round_half_even,
       trunc(y) AS trunc_toward_zero,
       ceil(y) AS ceil_up,
       floor(y) AS floor_down
FROM b
""",
)
def fn_rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rounding-mode family on exact .5-boundary doubles (odd
    integer cents x 7 / 2 — k + 0.5 is exactly representable, so
    every mode's tie behavior is actually exercised): Spark round ==
    DuckDB round (half AWAY from zero), Spark bround == DuckDB
    round_even (banker's), trunc toward zero, ceil, floor. The
    financial-correctness surface a migration must not silently
    change — probed engine-side before registration (2.5 -> 3 / 2,
    -2.5 -> -3). Pure projection."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        (
            (F.expr("CAST(ROUND(value * 100) AS BIGINT)") * 7).cast(
                "double"
            )
            / 2
        ).alias("y"),
    )
    return b.select(
        "event_id",
        "y",
        F.round("y").alias("round_half_away"),
        F.bround("y").alias("round_half_even"),
        # Spark trunc() is date-only; double->bigint cast truncates
        # toward zero, matching DuckDB trunc()
        F.col("y").cast("bigint").cast("double").alias(
            "trunc_toward_zero"
        ),
        F.ceil("y").cast("double").alias("ceil_up"),
        F.floor("y").cast("double").alias("floor_down"),
    )


@query(
    "fn_month_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 1 MONTH AS TIMESTAMP) AS next_month,
       CAST(o_orderdate - INTERVAL 1 MONTH AS TIMESTAMP) AS prev_month,
       CAST(o_orderdate + INTERVAL 13 MONTH AS TIMESTAMP) AS plus_13,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
       CAST((year(TIMESTAMP '2002-01-01') - year(o_orderdate)) * 12
            + (month(TIMESTAMP '2002-01-01') - month(o_orderdate))
            AS INTEGER) AS months_to_2002
FROM orders
""",
)
def fn_month_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-granularity date arithmetic — the parity surface where
    engines silently disagree if untested: END-OF-MONTH CLAMPING
    (Jan 31 + 1 month = Feb 29, verified identical between Spark
    add_months and DuckDB + INTERVAL for forward, backward, and
    >12-month jumps), last_day, quarter truncation, and the
    boundary-count month difference expressed as explicit
    year/month arithmetic in BOTH engines (Spark months_between
    uses a 31-day-fraction convention DuckDB has no equivalent of —
    a shared formulation instead of two builtins, the drift_psi
    rule). Spark add_months returns DATE while DuckDB interval
    arithmetic stays TIMESTAMP, so every date-ish output is cast to
    TIMESTAMP on both sides (fetchdf coercion parity)."""
    o = load(spark, sf_dir, "orders")
    lit_2002 = F.lit("2002-01-01").cast("timestamp")
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 1).cast("timestamp").alias("next_month"),
        F.add_months("o_orderdate", -1).cast("timestamp").alias("prev_month"),
        F.add_months("o_orderdate", 13).cast("timestamp").alias("plus_13"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").alias("qtr_start"),
        (
            (F.year(lit_2002) - F.year("o_orderdate")) * 12
            + (F.month(lit_2002) - F.month("o_orderdate"))
        )
        .cast("int")
        .alias("months_to_2002"),
    )


def _luhn_sum_sql(col: str, n_digits: int, double_odd_left: bool) -> str:
    """Shared Luhn digit-sum SQL over a fixed-width digit string —
    identical text both engines (1-based substring, integer CASE
    doubling). double_odd_left doubles the digits at odd 1-based
    positions from the LEFT (correct for an 11-digit payload whose
    check digit will be appended)."""
    terms = []
    for i in range(1, n_digits + 1):
        d = f"CAST(substring({col}, {i}, 1) AS INT)"
        if (i % 2 == 1) == double_odd_left:
            terms.append(
                f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9"
                f" ELSE 2 * {d} END)"
            )
        else:
            terms.append(d)
    return " + ".join(terms)


_LUHN_PAYLOAD = "lpad(CAST(o_orderkey % 100000000000 AS STRING), 11, '0')"
_LUHN_SUM = _luhn_sum_sql(_LUHN_PAYLOAD, 11, True)


@query(
    "fn_luhn",
    oracle=f"""
SELECT o_orderkey,
       {_LUHN_PAYLOAD} AS payload,
       CAST((10 - ({_LUHN_SUM}) % 10) % 10 AS INT) AS check_digit,
       {_LUHN_PAYLOAD}
         || CAST((10 - ({_LUHN_SUM}) % 10) % 10 AS STRING)
         AS card_number,
       ((10 - ({_LUHN_SUM}) % 10) % 10) = 0 AS zero_check_valid
FROM orders
""",
)
def fn_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 check digits over synthetic 11-digit account
    payloads (zero-padded order keys) — the checksum every intake
    pipeline validates card/IMEI/account fields with, shown here as
    the generator side (compute the check digit, emit the valid
    12-digit number, and flag the payloads whose naive '0' check
    digit would already pass). The digit extraction and the
    double-every-other CASE chain are ONE shared SQL fragment
    (_luhn_sum_sql) evaluated verbatim by both engines — pure
    integer arithmetic, whole-stage-codegen friendly, no UDF."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(_LUHN_PAYLOAD).alias("payload"),
        F.expr(
            f"CAST((10 - ({_LUHN_SUM}) % 10) % 10 AS INT)"
        ).alias("check_digit"),
        F.expr(
            f"{_LUHN_PAYLOAD}"
            f" || CAST((10 - ({_LUHN_SUM}) % 10) % 10 AS STRING)"
        ).alias("card_number"),
        F.expr(
            f"((10 - ({_LUHN_SUM}) % 10) % 10) = 0"
        ).alias("zero_check_valid"),
    )


_SEMVER = (
    "concat('v', CAST(p_partkey % 10 AS STRING), '.',"
    " CAST((p_partkey // 10) % 20 AS STRING), '.',"
    " CAST((p_partkey // 200) % 50 AS STRING))"
)


@query(
    "fn_semver",
    oracle=f"""
WITH v AS (
  SELECT p_partkey, {_SEMVER.replace('//', '//')} AS ver FROM part
), parsed AS (
  SELECT p_partkey, ver,
         CAST(string_split(substring(ver, 2), '.')[1] AS BIGINT) AS major,
         CAST(string_split(substring(ver, 2), '.')[2] AS BIGINT) AS minor,
         CAST(string_split(substring(ver, 2), '.')[3] AS BIGINT) AS patch
  FROM v
)
SELECT major, minor,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MAX(patch) AS BIGINT) AS latest_patch,
       CAST(MAX(major * 1000000 + minor * 1000 + patch) AS BIGINT)
         AS max_ordinal
FROM parsed GROUP BY major, minor
""",
)
def fn_semver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-version parsing and ordering — the data-cleaning
    chore every device/SDK analytics table needs: split 'vX.Y.Z'
    strings (synthesized deterministically from part keys) into
    integer components, order them NUMERICALLY via the packed
    ordinal major*1e6 + minor*1e3 + patch (string ordering would put
    v1.10.0 before v1.2.0 — the classic bug), and roll up latest
    patch per (major, minor) release line. Pure string/integer
    built-ins, whole-stage codegen, identical split semantics both
    engines (1-based list index in DuckDB = element 0 of Spark's
    split)."""
    p = load(spark, sf_dir, "part")
    ver = F.expr(
        "concat('v', CAST(p_partkey % 10 AS STRING), '.',"
        " CAST(CAST(p_partkey / 10 AS BIGINT) % 20 AS STRING), '.',"
        " CAST(CAST(p_partkey / 200 AS BIGINT) % 50 AS STRING))"
    )
    parts = F.split(F.expr("substring(ver, 2)"), "\\.")
    parsed = p.select("p_partkey", ver.alias("ver")).select(
        "p_partkey",
        "ver",
        parts.getItem(0).cast("bigint").alias("major"),
        parts.getItem(1).cast("bigint").alias("minor"),
        parts.getItem(2).cast("bigint").alias("patch"),
    )
    return parsed.groupBy("major", "minor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.max("patch").cast("bigint").alias("latest_patch"),
        F.max(
            F.col("major") * 1000000 + F.col("minor") * 1000 + F.col("patch")
        )
        .cast("bigint")
        .alias("max_ordinal"),
    )
