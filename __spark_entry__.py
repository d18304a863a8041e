"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse→filter→route→aggregate pipeline over
the sf0.001 events table. ``queries()`` — one entry per implemented
operator family (SURVEY.md §2); each runs the engine's operator and is
cross-checked against ``oracle_sql()`` by the driver via DuckDB at
sf0.01 (row count + schema + order-insensitive value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _ensure_conf(spark: SparkSession) -> None:
    """Engine-required runtime confs (the driver may hand us a vanilla
    session): lax casts (dynamic string-typed log payloads — the
    reference's type model), last-wins map keys (kv-scanner semantics),
    UTC for oracle parity. All are runtime-settable SQLConf entries."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str, wide: bool = False) -> DataFrame:
    """Read a gate table. ``wide=True`` applies the library's scan-
    parallelism rule (``dedup._ensure_parallelism``) to the scan.

    ``wide`` stays opt-in per query because the exchange is a net LOSS
    for cheap column chains and for tables feeding a broadcast subtree
    (the broadcast must wait on the full shuffle) — an A/B of the whole
    suite at sf0.1 (noop-sink medians, idle host) showed +0.2..+2.3 s
    per query for the heavy-parse family and −0.2..−0.7 s for the light
    ones; only the measured winners pass wide=True. Deterministic
    either way: sort-before-repartition is on by default and every
    query's result is pinned by an explicit orderBy/aggregate, not
    partition layout."""
    _ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if wide:
        from syslog_ng_spark.operators.dedup import _ensure_parallelism

        df = _ensure_parallelism(df)
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse the events stream's props payload, severity-style
    filter, route across final/fallback sinks, per-sink aggregate counts."""
    return _flagship(spark, "/root/testdata/sf0.001")


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from syslog_ng_spark.plans import LogPath, Pipeline

    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    )
    pipe = Pipeline(
        [
            LogPath("errors", F.col("event_type") == "error", frozenset(["final"])),
            LogPath("big_purchases", (F.col("event_type") == "purchase") & (F.col("value") > 50)),
            LogPath("rest", None, frozenset(["fallback"])),
        ]
    )
    routed = pipe.route(parsed, persist=False)
    frames = []
    for p in pipe.paths:
        frames.append(
            routed.sink(p.name)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("k").alias("sum_k"),
            )
            .withColumn("sink", F.lit(p.name))
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select("sink", "event_type", "n", "sum_k").orderBy("sink", "event_type")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_flagship_route(spark, sf_dir):
    return _flagship(spark, sf_dir)


_FLAGSHIP_SQL = """
WITH parsed AS (
  SELECT event_type, value,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k,
         (event_type = 'error') AS m_err,
         (event_type = 'purchase' AND value > 50) AS m_big
  FROM events
), routed AS (
  SELECT 'errors' AS sink, event_type, k FROM parsed WHERE m_err
  UNION ALL
  SELECT 'big_purchases', event_type, k FROM parsed WHERE (NOT m_err) AND m_big
  UNION ALL
  SELECT 'rest', event_type, k FROM parsed WHERE (NOT m_err) AND (NOT m_big)
)
SELECT sink, event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
FROM routed GROUP BY sink, event_type ORDER BY sink, event_type
"""
# NOTE: DuckDB sum(INT/BIGINT) returns HUGEINT, which pandas renders as
# float64 ("123.0" vs Spark's "123") — every integer sum in these oracles
# is CAST to BIGINT for value-hash parity with Spark's bigint sums.


def q_filter_cmp(spark, sf_dir):
    """Filter AST: type-aware cmp + pcre match + in-list (§2.4)."""
    from syslog_ng_spark.functions import filters as FL

    ev = _t(spark, sf_dir, "events")
    pred = (
        FL.FCmp(F.col("value"), 50.0, ">=")
        & FL.FMatch(F.col("event_type"), r"^(error|click)$")
        & FL.FInList(["error", "click", "view"], F.col("event_type"))
    )
    return (
        ev.filter(pred.to_column())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("event_type")
    )


_FILTER_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
WHERE value >= 50.0 AND regexp_matches(event_type, '^(error|click)$')
  AND event_type IN ('error','click','view')
GROUP BY event_type ORDER BY event_type
"""


def q_kv_parse_roundtrip(spark, sf_dir):
    """kv-parser (§2.5): parse k=v text built from events, extract back."""
    from syslog_ng_spark.operators.parsers import kv_parser

    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "line",
        F.format_string('uid=%d type=%s note="v is %s"', "user_id", "event_type", "event_type"),
    )
    parsed = kv_parser(ev, source="line")
    return parsed.select(
        F.col("event_id"),
        F.element_at("kv", "uid").cast("bigint").alias("uid"),
        F.element_at("kv", "type").alias("type"),
        F.element_at("kv", "note").alias("note"),
    ).orderBy("event_id")


_KV_SQL = """
SELECT event_id, user_id AS uid, event_type AS type,
       'v is ' || event_type AS note
FROM events ORDER BY event_id
"""


def q_json_parse(spark, sf_dir):
    """json-parser (§2.5): schemaless flatten of the props payload."""
    from syslog_ng_spark.operators.parsers import json_parser

    ev = _t(spark, sf_dir, "events")
    parsed = json_parser(ev, source="props")
    return (
        parsed.withColumn("k", F.element_at("json", "k").cast("bigint"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


_JSON_SQL = """
SELECT event_type,
       CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_csv_parse(spark, sf_dir):
    """csv-parser (§2.5): quoted-dialect split of a CSV line."""
    from syslog_ng_spark.operators.parsers import csv_parser

    ev = _t(spark, sf_dir, "events").withColumn(
        "line",
        F.format_string('%d,"%s, sub",%s', "event_id", "event_type", F.round("value", 3).cast("string")),
    )
    parsed = csv_parser(
        ev, [("id", "bigint"), ("label", "string"), ("v", "double")], source="line"
    )
    return parsed.select("id", "label", "v").orderBy("id")


_CSV_SQL = """
SELECT event_id AS id, event_type || ', sub' AS label,
       CAST(CAST(round(value, 3) AS VARCHAR) AS DOUBLE) AS v
FROM events ORDER BY id
"""


def q_regexp_parse(spark, sf_dir):
    """regexp-parser (§2.5): named groups → columns."""
    from syslog_ng_spark.operators.parsers import regexp_parser

    ev = _t(spark, sf_dir, "events").withColumn(
        "line", F.format_string("evt type=%s id=%d", "event_type", "event_id")
    )
    parsed = regexp_parser(ev, r"type=(?P<etype>\w+) id=(?P<eid>\d+)", source="line")
    return parsed.select(
        F.col("eid").cast("bigint").alias("eid"), F.col("etype")
    ).orderBy("eid")


_REGEXP_SQL = "SELECT event_id AS eid, event_type AS etype FROM events ORDER BY eid"


def q_rewrite_subst_mask(spark, sf_dir):
    """rewrite subst/set (§2.6): cc-mask style masking + templated set."""
    from syslog_ng_spark.operators import rewrite as RW

    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "payload",
        F.format_string(
            "card 4111111111111111 amex 378282246310005 by u%d", "user_id"
        ),
    )
    out = RW.credit_card_mask(ev, "payload")
    out = RW.set_value(out, "tagline", "$event_type/$user_id")
    return out.select("event_id", "payload", "tagline").orderBy("event_id")


_REWRITE_SQL = """
SELECT event_id,
       'card 411111******1111 amex 378282******0005 by u' || user_id AS payload,
       event_type || '/' || user_id AS tagline
FROM events ORDER BY event_id
"""


def q_rewrite_ops(spark, sf_dir):
    """Rewrite chain (§2.6): conditional set-tag/clear-tag, set-severity,
    set-facility, and set-pri strtol keep-on-invalid semantics
    (rewrite-set-tag.c / rewrite-set-pri.c / rewrite-set-severity.c) —
    previously pytest-only; this gate oracles the whole chain."""
    from syslog_ng_spark.operators import rewrite as RW

    ev = _t(spark, sf_dir, "events")
    df = ev.withColumn(
        "pri", F.pmod(F.col("user_id") * 7 + 3, F.lit(192)).cast("int")
    )
    df = RW.set_tag(df, "evt")
    df = RW.set_tag(df, "err", condition=F.col("event_type") == "error")
    df = RW.set_tag(df, "big", condition=F.col("value") >= 100.0)
    df = RW.clear_tag(df, "err", condition=F.col("value") < 10.0)
    df = RW.set_severity(df, "warning", condition=F.col("event_type") == "click")
    df = RW.set_facility(df, "auth", condition=F.col("event_type") == "signup")
    # strtol semantics: ' 42' parses (ws+digits); '9999' is out of
    # [0,1023] and '4x' has trailing junk — both must KEEP the old pri
    pri_txt = (
        F.when(F.pmod("event_id", F.lit(3)) == 0, F.lit(" 42"))
        .when(F.pmod("event_id", F.lit(3)) == 1, F.lit("9999"))
        .otherwise(F.lit("4x"))
    )
    df = RW.set_pri(df, pri_txt)
    return df.select(
        "event_id", "pri", F.array_join("tags", ",").alias("tags")
    ).orderBy("event_id")


_REWRITE_OPS_SQL = """
WITH base AS (
  SELECT event_id, event_type, value,
         ((user_id * 7 + 3) % 192)::INT AS pri0
  FROM events
), sev AS (
  SELECT *, CASE WHEN event_type = 'click'
                 THEN (pri0 // 8) * 8 + 4 ELSE pri0 END AS pri1
  FROM base
), fac AS (
  SELECT *, CASE WHEN event_type = 'signup'
                 THEN 4 * 8 + pri1 % 8 ELSE pri1 END AS pri2
  FROM sev
)
SELECT event_id,
       (CASE WHEN event_id % 3 = 0 THEN 42 ELSE pri2 END)::INT AS pri,
       concat_ws(',', 'evt',
         CASE WHEN event_type = 'error' AND NOT coalesce(value < 10.0, FALSE)
              THEN 'err' END,
         CASE WHEN value >= 100.0 THEN 'big' END) AS tags
FROM fac ORDER BY event_id
"""


def q_tags_netmask(spark, sf_dir):
    """tags-parser (§2.5) + tags()/netmask() filters (§2.4) — parse a
    syslog-ng list value into the tags array, then filter on tag
    membership AND a CIDR range (filter-netmask.c: constant-folded
    int64 bounds, no UDF) — previously pytest-only rows."""
    from syslog_ng_spark.functions.filters import FNetmask, FTags
    from syslog_ng_spark.operators.parsers import tags_parser

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn(
        "tagcsv",
        F.concat_ws(
            ",",
            F.col("event_type"),
            F.lit(" audit "),
            F.concat(F.lit("u"), F.pmod("user_id", F.lit(5))),
        ),
    ).withColumn(
        "src_ip",
        F.format_string(
            "10.%d.%d.%d",
            F.pmod("event_id", F.lit(200)),
            F.pmod("user_id", F.lit(250)),
            F.pmod(F.col("event_id") * 13 + 7, F.lit(256)),
        ),
    )
    df = tags_parser(ev, source="tagcsv")
    pred = FTags("error", "u3") & FNetmask("10.64.0.0/10", "src_ip")
    return (
        df.filter(pred.to_column())
        .select("event_id", "src_ip", F.array_join("tags", ",").alias("tags"))
        .orderBy("event_id")
    )


_TAGS_NETMASK_SQL = """
SELECT event_id,
       printf('10.%d.%d.%d', event_id % 200, user_id % 250,
              (event_id * 13 + 7) % 256) AS src_ip,
       concat_ws(',', event_type, 'audit', 'u' || (user_id % 5)) AS tags
FROM events
WHERE (event_type = 'error' OR user_id % 5 = 3)
  AND event_id % 200 BETWEEN 64 AND 127
ORDER BY event_id
"""


def q_match_modes(spark, sf_dir):
    """match() engines (§2.4 logmatcher.h): pcre/string/glob matchers
    with icase/substring/prefix flags, each compiled to the cheapest
    JVM-side form (contains/startswith/==/like/rlike) — previously
    pytest-only (test_matcher_port.py); this gate oracles all four
    engine × flag combinations side by side."""
    from syslog_ng_spark.functions.filters import FMatch

    ev = _t(spark, sf_dir, "events").withColumn(
        "text",
        F.format_string(
            "Proc-%s run %d on Host%d",
            "event_type",
            "event_id",
            F.pmod("user_id", F.lit(20)),
        ),
    )
    tcol = F.col("text")
    return ev.select(
        "event_id",
        FMatch(tcol, r"proc-(error|click) ", "pcre", frozenset({"icase"}))
        .to_column()
        .alias("m_pcre_i"),
        FMatch(tcol, "run 7", "string", frozenset({"substring"}))
        .to_column()
        .alias("m_sub"),
        FMatch(tcol, "Proc-err", "string", frozenset({"prefix"}))
        .to_column()
        .alias("m_pre"),
        FMatch(tcol, "proc-view* on host1?", "glob", frozenset({"icase"}))
        .to_column()
        .alias("m_glob"),
    ).orderBy("event_id")


_MATCH_MODES_SQL = """
WITH t AS (
  SELECT event_id,
         printf('Proc-%s run %d on Host%d',
                event_type, event_id, user_id % 20) AS text
  FROM events
)
SELECT event_id,
       regexp_matches(text, '(?i)proc-(error|click) ') AS m_pcre_i,
       contains(text, 'run 7') AS m_sub,
       starts_with(text, 'Proc-err') AS m_pre,
       lower(text) LIKE 'proc-view% on host1_' AS m_glob
FROM t ORDER BY event_id
"""


def q_timezone_ops(spark, sf_dir):
    """fix-timezone()/set-timezone() (§2.6, modules/timestamp): fix
    REINTERPRETS the wall-clock in the given zone (same digits, new
    instant); set CONVERTS the instant into the zone's wall-clock.
    DST-free zones keep the oracle tz-db-independent; the classic
    fix-vs-set direction confusion is exactly what this pins."""
    from syslog_ng_spark.operators.rewrite import fix_timezone, set_timezone

    ev = _t(spark, sf_dir, "events")
    fixed = fix_timezone(ev.withColumn("ts_fix", F.col("ts")), "Asia/Kolkata", "ts_fix")
    both = set_timezone(
        fixed.withColumn("ts_set", F.col("ts")), "Asia/Tokyo", "ts_set"
    )
    return both.select(
        "event_id",
        F.unix_micros("ts_fix").alias("fix_us"),
        F.unix_micros("ts_set").alias("set_us"),
    ).orderBy("event_id")


_TIMEZONE_SQL = """
SELECT event_id,
       epoch_us(ts - INTERVAL '5 hours 30 minutes') AS fix_us,
       epoch_us(ts + INTERVAL '9 hours') AS set_us
FROM events ORDER BY event_id
"""


def q_chunk_docs(spark, sf_dir):
    """Sliding token-window chunking (training-data extensions): each
    document into 32-token windows every 24 tokens (8-token overlap) —
    the RAG/context-window layout. Zero-shuffle explode; the oracle
    re-derives every window with generate_series + list slicing."""
    from syslog_ng_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


_CHUNK_DOCS_SQL = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(0, greatest((len(toks) - 1) // 24, 0))) AS ci
  FROM d
)
SELECT doc_id,
       ci::INT AS chunk_idx,
       (ci * 24)::INT AS tok_start,
       least(n - ci * 24, 32)::INT AS n_tokens,
       array_to_string(toks[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
FROM c ORDER BY doc_id, chunk_idx
"""


def q_media_featurize(spark, sf_dir):
    """Multimodal decode→featurize plumbing (training-data extensions):
    a binary payload column through the mapInPandas Arrow-batch path
    with the documented deterministic fake decoder (sha256 prefix
    bytes — operators/multimodal.py; the container has no codecs).
    The oracle recomputes the identical feature bytes from the same
    payload in DuckDB, hash-checking the binary-through-Arrow dataflow
    end to end (payload built from documents.text so both engines see
    the same bytes)."""
    from syslog_ng_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            kinds, (F.pmod("doc_id", F.lit(3)) + 1).cast("int")
        ).alias("kind"),
        F.concat(F.lit("m"), F.substring("text", 1, 32))
        .cast("binary")
        .alias("payload"),
    )
    feats = extract_features(media, dim=8)
    # feature f_i = byte_i(sha256(payload))/255 as float32; ×255 rounds
    # back to the exact byte (rel err ≤ 2^-24), rendered as lowercase hex
    hex8 = F.lower(
        F.concat_ws(
            "",
            F.transform(
                "feat",
                lambda x: F.lpad(F.hex(F.round(x * 255).cast("int")), 2, "0"),
            ),
        )
    )
    return feats.select(
        "media_id",
        "kind",
        F.when(F.col("decode_ok"), hex8).alias("feat_hex"),
        "decode_ok",
    ).orderBy("media_id")


_MEDIA_FEATURIZE_SQL = """
SELECT doc_id AS media_id,
       ['image','audio','video'][(doc_id % 3) + 1] AS kind,
       substr(sha256('m' || substr(text, 1, 32)), 1, 16) AS feat_hex,
       TRUE AS decode_ok
FROM documents ORDER BY media_id
"""


def q_grouping_by(spark, sf_dir):
    """grouping-by (§2.7): keyed contexts, having post-filter."""
    from syslog_ng_spark.operators import grouping as G

    ev = _t(spark, sf_dir, "events")
    return G.grouping_by(
        ev,
        key=["user_id"],
        aggregates={
            "n": G.context_length(),
            "sum_value": F.round(F.sum("value"), 4),
            "max_value": F.max("value"),
            "n_errors": F.count(F.when(F.col("event_type") == "error", 1)),
        },
        having=F.col("n") >= 3,
    ).orderBy("user_id")


_GROUPING_SQL = """
SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_value,
       max(value) AS max_value,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
FROM events GROUP BY user_id HAVING count(*) >= 3 ORDER BY user_id
"""


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (§4: skew defusal) — must equal the
    plain group-by, which is exactly what the oracle asserts."""
    from syslog_ng_spark.operators.grouping import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        key=["event_type"],
        aggs={"n": ("count", None), "max_v": ("max", "value")},
        salt_buckets=8,
    )
    return out.orderBy("event_type")


_SALTED_SQL = """
SELECT event_type, count(*) AS n, max(value) AS max_v
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_session_windows(spark, sf_dir):
    """Timeout sessionization (§2.7 timer wheel): 1h event-time gap per
    user; emits per-session turn counts."""
    from syslog_ng_spark.operators.grouping import grouping_by, context_length

    ev = _t(spark, sf_dir, "events")
    out = grouping_by(
        ev,
        key=["user_id"],
        aggregates={"n": context_length(), "t0": F.min("ts"), "t1": F.max("ts")},
        timeout=3600,
        ts_col="ts",
    )
    return out.orderBy("user_id", "t0")


_SESSION_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 3600
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, count(*) AS n, min(ts) AS t0, max(ts) AS t1
FROM sess GROUP BY user_id, sid ORDER BY user_id, t0
"""


def q_session_windows_chunked(spark, sf_dir):
    """Hot-key-parallel sessionization (two-level, §2.7/§4 skew defusal):
    must produce the SAME sessions as the single-window path — the oracle
    is the plain session SQL."""
    from syslog_ng_spark.operators.grouping import sessionize_chunked

    ev = _t(spark, sf_dir, "events", wide=True)
    s = sessionize_chunked(ev, ["user_id"], timeout=3600, chunk_seconds=6 * 3600)
    return (
        s.groupBy("user_id", "ctx_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        .drop("ctx_id")
        .select("user_id", "n", "t0", "t1")
        .orderBy("user_id", "t0")
    )


def q_suppress(spark, sf_dir):
    """suppress() (§2.7): drop consecutive duplicate event_types per user
    within 1h; count survivors per type."""
    from syslog_ng_spark.operators.suppress import suppress

    ev = _t(spark, sf_dir, "events")
    kept = suppress(
        ev,
        seconds=3600,
        identity=["event_type"],
        order_by=["ts", "event_id"],  # unique tiebreaker: deterministic runs
        partition_by=["user_id"],
    )
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("suppressed").alias("n_suppressed"))
        .orderBy("event_type")
    )


_SUPPRESS_SQL = """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600
              THEN 1 ELSE 0 END AS run_start
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), rid AS (
  SELECT *, sum(run_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
), agg AS (
  SELECT user_id, run_id, min(ts) AS ts0,
         any_value(event_type) AS event_type, count(*) - 1 AS suppressed
  FROM rid GROUP BY user_id, run_id
)
SELECT event_type, count(*) AS n_kept,
       CAST(sum(suppressed) AS BIGINT) AS n_suppressed
FROM agg GROUP BY event_type ORDER BY event_type
"""


def q_rate_limit(spark, sf_dir):
    """rate-limit (§2.4): ≤2 events per user per event-time minute, via
    the engine's windowed rate_limit operator."""
    from syslog_ng_spark.operators.suppress import rate_limit

    ev = _t(spark, sf_dir, "events")
    kept = rate_limit(
        ev, ["user_id"], rate=2, per_seconds=60, order_by=["ts", "event_id"]
    )
    return kept.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).orderBy("user_id")


_RATE_SQL = """
WITH rn AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id, CAST(floor(epoch(ts)/60) AS BIGINT)
                            ORDER BY ts, event_id) AS r
  FROM events
)
SELECT user_id, count(*) AS n FROM rn WHERE r <= 2
GROUP BY user_id ORDER BY user_id
"""


def q_broadcast_enrich(spark, sf_dir):
    """add-contextual-data analogue (§2.5): broadcast dim join, orders ×
    customer mktsegment → per-segment revenue."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


_ENRICH_SQL = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_tpch_q1(spark, sf_dir):
    """Native aggregation throughput shape (TPC-H Q1 over lineitem)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    """Multi-join + agg shape (TPC-H Q3): dimension filters push into
    the scans, customer broadcasts, orders↔lineitem co-shuffle on the
    key — the enrichment-join plan at 100 TB."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_TPCH_Q3_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_topk_per_group(spark, sf_dir):
    """Top-3 by value per event_type (sort/limit shape, §2.9)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    )


_TOPK_SQL = """
WITH rn AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
  FROM events
)
SELECT event_type, rank, event_id, value FROM rn WHERE rank <= 3
ORDER BY event_type, rank
"""


def q_exact_dedup(spark, sf_dir):
    """Exact dedup (hash-groupBy) on documents."""
    from syslog_ng_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id").orderBy("doc_id")


_DEDUP_SQL = """
SELECT min(doc_id) AS doc_id
FROM documents
GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
ORDER BY doc_id
"""


def q_textstats(spark, sf_dir):
    """Text analysis (§LLM-pipeline): token counting, stopword ratio and
    the stopword-vote language guess over documents — all pure Columns
    inside the scan's codegen."""
    from syslog_ng_spark.operators.textstats import (
        lang_id,
        stopword_ratio,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents", wide=True)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.round(stopword_ratio(F.col("text")), 6).alias("sw_ratio"),
        lang_id(F.col("text")).alias("lang_guess"),
    ).orderBy("doc_id")


_TEXTSTATS_SQL = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents
), scored AS (
  SELECT doc_id, text, tk,
         len(list_filter(tk, t -> list_contains(
           ['the','and','of','to','a','in','is','it','for','on','with','that'], t))) AS s_en,
         len(list_filter(tk, t -> list_contains(
           ['der','die','das','und','ist','nicht','ein','mit','für','auf'], t))) AS s_de,
         len(list_filter(tk, t -> list_contains(
           ['le','la','les','et','est','pas','un','une','pour','dans'], t))) AS s_fr,
         len(list_filter(tk, t -> list_contains(
           ['el','la','los','y','es','no','un','una','para','en'], t))) AS s_es
  FROM toks
)
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       length(text) AS n_chars_calc,
       round(CASE WHEN len(tk) > 0 THEN s_en::DOUBLE / len(tk) ELSE 0.0 END, 6) AS sw_ratio,
       CASE WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
            WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
            WHEN s_de > s_en THEN 'de'
            WHEN s_en > 0 THEN 'en' ELSE 'und' END AS lang_guess
FROM scored ORDER BY doc_id
"""


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 5 vectors as queries."""
    from syslog_ng_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = (
        emb.orderBy("vec_id").limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cos", 6).alias("cos")
    ).orderBy("query_id", "rank")


_SIM_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
  FROM embeddings e CROSS JOIN q
), rn AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, round(cos, 6) AS cos
FROM rn WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (§LLM-pipeline): k-means cells (MLlib), nprobe-cell probe,
    exact cosine rerank. Probed EXHAUSTIVELY here (nprobe = n_cells) so
    the result is provably identical to brute force — giving the IVF
    index/probe/rerank machinery a deterministic DuckDB oracle; partial-
    probe recall is pinned separately in tests (nprobe=3/8 ≥ 50%, self-
    hit always recovered)."""
    from syslog_ng_spark.operators.similarity import ivf_index, ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assigned, centroids = ivf_index(emb, n_cells=8, seed=42)
    queries = (
        emb.orderBy("vec_id").limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = ivf_topk(assigned, centroids, queries, k=5, nprobe=8)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cos", 6).alias("cos")
    ).orderBy("query_id", "rank")


def ivf_bench_phases(spark, sf_dir):
    """Bench-only split of q_ivf_topk: returns ``(build, probe)`` thunks
    so bench.py reports index CONSTRUCTION (k-means fit + assignment +
    the cell-partitioned WRITE — one-time at 100 TB, amortized over
    every subsequent query) separately from the PROBE (the recurring
    per-query cost, reading the PERSISTED partition-pruned layout — the
    real write-once/probe-many usage, VERDICT r4 #6). ``probe`` rebuilds
    its plan on every call (no AQE/cache reuse between timed runs)."""
    from syslog_ng_spark.operators.similarity import ivf_index, ivf_topk, ivf_write

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    ivf_path = "/tmp/syslog_ng_spark_gate/ivf_bench_index"

    def build():
        assigned, centroids = ivf_index(emb, n_cells=8, seed=42)
        ivf_write(assigned, centroids, ivf_path)

    def probe():
        queries = (
            emb.orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        ivf_topk(ivf_path, None, queries, k=5, nprobe=8).collect()

    return build, probe


def q_patterndb_classify(spark, sf_dir):
    """PatternDB (§2.5): classify synthesized per-event lines, typed
    extraction, per-class counts."""
    from syslog_ng_spark.operators.patterndb import PdbRule, patterndb

    rules = [
        PdbRule("r_err", "problem", "error", "user @NUMBER:uid@ hit @ESTRING:what: @at v=@FLOAT:v@", ("err",)),
        PdbRule("r_buy", "commerce", "purchase", "user @NUMBER:uid@ hit @ESTRING:what: @at v=@FLOAT:v@"),
        PdbRule("r_any", "activity", "", "user @NUMBER:uid@ hit @ANYSTRING:rest@"),
    ]
    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "line",
        F.format_string("user %d hit %s at v=%s", "user_id", "event_type", F.round("value", 2).cast("string")),
    )
    out = patterndb(ev, rules, program_col="event_type", text_col="line")
    return (
        out.groupBy("pdb_class")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pdb_class")
    )


_PATTERNDB_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'problem'
            WHEN event_type = 'purchase' THEN 'commerce'
            ELSE 'activity' END AS pdb_class,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY pdb_class
"""


def q_template_format(spark, sf_dir):
    """Template compiler (§2.3): macro/func composition → one column."""
    from syslog_ng_spark.functions.templates import compile_template

    ev = _t(spark, sf_dir, "events")
    tpl = compile_template(
        "$(uppercase $event_type)|$(+ $user_id 1)|$(substr $props 0 4)",
        set(ev.columns),
    )
    return ev.select("event_id", tpl.alias("line")).orderBy("event_id")


_TEMPLATE_SQL = """
SELECT event_id,
       upper(event_type) || '|' || CAST(user_id + 1 AS VARCHAR) || '|' ||
       substr(props, 1, 4) AS line
FROM events ORDER BY event_id
"""


def q_route_metrics(spark, sf_dir):
    """Per-path ingress/egress counters (§2.8 metrics-pipe analogue)."""
    from syslog_ng_spark.plans import LogPath, Pipeline

    ev = _t(spark, sf_dir, "events")
    pipe = Pipeline(
        [
            LogPath("p_err", F.col("event_type") == "error", frozenset(["final"])),
            LogPath("p_hot", F.col("value") > 90),
            LogPath("p_rest", None, frozenset(["fallback"])),
        ]
    )
    return pipe.route(ev, persist=False).metrics().orderBy("path")


_ROUTE_METRICS_SQL = """
WITH m AS (
  SELECT (event_type = 'error') AS me, (value > 90) AS mh FROM events
)
SELECT 'p_err' AS path, count(*) AS route_ingress_total,
       CAST(sum(CASE WHEN me THEN 1 ELSE 0 END) AS BIGINT) AS route_egress_total FROM m
UNION ALL
SELECT 'p_hot', CAST(sum(CASE WHEN NOT me THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN (NOT me) AND mh THEN 1 ELSE 0 END) AS BIGINT) FROM m
UNION ALL
SELECT 'p_rest', CAST(sum(CASE WHEN NOT (me OR ((NOT me) AND mh)) THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN NOT (me OR ((NOT me) AND mh)) THEN 1 ELSE 0 END) AS BIGINT) FROM m
ORDER BY path
"""


def q_date_parser(spark, sf_dir):
    """date-parser (§2.5): multi-format first-wins timestamp parse."""
    from syslog_ng_spark.operators.parsers import date_parser

    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "s", F.date_format("ts", "yyyy/MM/dd HH:mm:ss")
    )
    out = date_parser(ev, ["MM-dd-yyyy", "yyyy/MM/dd HH:mm:ss"], source="s")
    return out.select("event_id", "stamp").orderBy("event_id")


_DATE_SQL = """
SELECT event_id, date_trunc('second', ts) AS stamp FROM events ORDER BY event_id
"""


# --- non-SQL-expressible ops: rows-only checks -------------------------------


def q_minhash_neardup(spark, sf_dir):
    """MinHash LSH near-dup pairs on documents: banded LSH candidates,
    exact shingle-Jaccard verify. The oracle is the exact all-pairs
    3-gram Jaccard — equality holds because banding (16 bands × 4 rows)
    has recall ≈ 1 at J ≥ 0.9, where every true pair of this corpus sits
    (measured gap: no pair between 0.45 and 0.9)."""
    from syslog_ng_spark.operators.dedup import minhash_lsh

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh(docs, threshold=0.5)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# Exact all-pairs word-3-gram Jaccard over documents, replicating the
# engine's normalization (lower/trim, split on non-word runs) and shingle
# construction (distinct 3-gram joins; whole-text fallback under 3 tokens).
_EXACT_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3
              THEN list_distinct(list_transform(range(1, len(tk)-1),
                                 i -> array_to_string(tk[i:i+2], ' ')))
              ELSE [array_to_string(tk, ' ')] END AS sh
  FROM toks
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.5
ORDER BY id_a, id_b
"""


def q_near_dup_clusters(spark, sf_dir):
    """Connected components over the minhash near-dup pairs
    (§LLM-pipeline): transitive closure turns pairs into dedup clusters
    (A~B, B~C ⇒ one cluster even when A~C never surfaced). Spark side:
    min-label propagation + pointer jumping (exact fixpoint). Oracle:
    DuckDB recursive CTE computing the same closure over the exact
    all-pairs Jaccard ≥ 0.5 graph."""
    from syslog_ng_spark.operators.dedup import connected_components, minhash_lsh

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh(docs, threshold=0.5)
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"), "component"
    ).orderBy("doc_id")


_NEAR_DUP_CLUSTERS_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3
              THEN list_distinct(list_transform(range(1, len(tk)-1),
                                 i -> array_to_string(tk[i:i+2], ' ')))
              ELSE [array_to_string(tk, ' ')] END AS sh
  FROM toks
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS doc_id, least(u, min(v)) AS component
FROM reach GROUP BY u ORDER BY doc_id
"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup (§LLM-pipeline): block-combination pigeonhole
    candidates (Manku et al. WWW'07 §3 — C(8,3)=56 tables keyed on
    3-chunk 24-bit concatenations, so per-table keyspace scales to
    billions of docs instead of saturating at 256 buckets), cheap
    hamming ≤ 5 prefilter before any shuffle (the guaranteed envelope:
    8−3 chunks), exact shingle-Jaccard verify. Same exact-Jaccard oracle
    as minhash: the two operators are alternative candidate generators
    for the same content-similarity predicate (ALL true J ≥ 0.5 pairs
    measure token-simhash hamming ≤ 5 on this corpus)."""
    from syslog_ng_spark.operators.dedup import simhash_near_dup

    docs = _t(spark, sf_dir, "documents")
    out = simhash_near_dup(
        docs, threshold=0.5, n_chunks=8, block_chunks=3, prefilter_hamming=5
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# The transcript gate materializes its (deterministic, generated) parsed
# corpus here so DuckDB can score the SAME bits the engine routed —
# closing the one rows-only gap on the driver scoreboard.
_TRANSCRIPT_GATE_PATH = "/tmp/syslog_ng_spark_gate/transcript_parsed.parquet"


def q_transcript_pipeline(spark, sf_dir):
    """End-to-end transcript pipeline on the deterministic synthetic
    corpus (BASELINE.json input_hint shape): syslog+kv parse → route →
    per-sink egress counts. The parsed frame is written to parquet at
    ``_TRANSCRIPT_GATE_PATH`` and the pipeline routes the READ-BACK
    copy, so the DuckDB oracle (same file) scores byte-identical input.
    A second, independently hand-written expression of the reference's
    mpx semantics (logmpx.c final/fallback algebra) is asserted in-query
    as well — `parity` guarded both ways."""
    from syslog_ng_spark.datagen import transcripts
    from syslog_ng_spark.operators.parsers import kv_parser, syslog_parser
    from syslog_ng_spark.plans import LogPath, Pipeline
    from syslog_ng_spark.functions import filters as FL

    df = transcripts(spark, n_convs=500, avg_turns=10)
    kv_parser(syslog_parser(df), source="msg").select(
        "conv_id", "turn_idx", "pri", "syslog_matched", "tool"
    ).repartition(1).write.mode("overwrite").parquet(_TRANSCRIPT_GATE_PATH)
    # repartition(1), not coalesce(1): coalesce pulls the WHOLE
    # generate+parse chain into one task (single-core); the exchange
    # keeps the parse parallel and only the tiny write is one task
    parsed = spark.read.parquet(_TRANSCRIPT_GATE_PATH).persist()
    pipe = Pipeline(
        [
            LogPath("security", FL.FSeverity("err..emerg") & FL.FRaw(F.col("syslog_matched")), frozenset(["final"])),
            LogPath("bash", F.col("tool") == "bash"),
            LogPath("other", None, frozenset(["fallback"])),
        ]
    )
    engine = (
        pipe.route(parsed, persist=False)
        .metrics()
        .select("path", "route_egress_total")
        .orderBy("path")
    )

    # independent reference semantics, written directly (not via Pipeline):
    m_sec = F.coalesce(
        F.pmod(F.col("pri"), F.lit(8)).isin([0, 1, 2, 3]) & F.col("syslog_matched"),
        F.lit(False),
    )
    m_bash = F.coalesce(F.col("tool") == "bash", F.lit(False))
    ref = parsed.agg(
        F.sum(m_sec.cast("long")).alias("security"),
        F.sum((~m_sec & m_bash).cast("long")).alias("bash"),
        F.sum((~m_sec & ~m_bash).cast("long")).alias("other"),
    ).collect()[0]
    got = {r.path: r.route_egress_total for r in engine.collect()}
    parsed.unpersist()
    for p in ("security", "bash", "other"):
        assert got[p] == ref[p], f"routing parity broken on {p}: {got} vs {ref}"
    return engine


_TRANSCRIPT_SQL = f"""
WITH p AS (
  SELECT CASE
           WHEN coalesce(syslog_matched AND pri % 8 IN (0, 1, 2, 3), false)
             THEN 'security'
           WHEN tool = 'bash' THEN 'bash'
           ELSE 'other'
         END AS path
  FROM read_parquet('{_TRANSCRIPT_GATE_PATH}/*.parquet')
)
SELECT path, CAST(count(*) AS BIGINT) AS route_egress_total
FROM p GROUP BY path ORDER BY path
"""


def q_scl_sudo(spark, sf_dir):
    """SCL sudo preset (scl/sudo/sudo.conf) as an INVERSE-PROPERTY gate:
    deterministically format sudo log lines from customer columns, parse
    them back with sudo_parser, return the extracted fields. The DuckDB
    oracle recomputes the same fields straight from the source columns —
    parse(format(x)) == x, the same check the reference's functional
    tests run on canned lines, but over 10k rows."""
    from syslog_ng_spark.operators.scl import sudo_parser

    c = _t(spark, sf_dir, "customer", wide=True)
    line = F.concat(
        F.regexp_replace("c_name", "#", "_"), F.lit(" : TTY=pts/"),
        F.pmod("c_custkey", F.lit(10)).cast("string"),
        F.lit(" ; PWD=/home/seg ; USER=root ; COMMAND=/bin/report "),
        F.col("c_mktsegment"), F.lit(" "), F.col("c_acctbal").cast("string"),
    )
    parsed = sudo_parser(c.withColumn("msg", line))
    m = F.col("sudo")
    return parsed.select(
        "c_custkey",
        F.col("`.sudo.SUBJECT`").alias("subject"),
        F.element_at(m, ".sudo.TTY").alias("tty"),
        F.element_at(m, ".sudo.COMMAND").alias("command"),
        F.col("sudo_matched").alias("matched"),
    ).orderBy("c_custkey")


_SCL_SUDO_SQL = """
SELECT c_custkey,
       replace(c_name, '#', '_') AS subject,
       'pts/' || CAST(c_custkey % 10 AS VARCHAR) AS tty,
       '/bin/report ' || c_mktsegment || ' ' || CAST(c_acctbal AS VARCHAR)
         AS command,
       true AS matched
FROM customer ORDER BY c_custkey
"""


def q_scl_apache(spark, sf_dir):
    """SCL apache-accesslog preset (scl/apache/apache.conf), same
    inverse-property construction: combined-log lines formatted from
    orders columns, parsed back; typed fields (int response, long bytes,
    timestamp) must round-trip."""
    from syslog_ng_spark.operators.scl import apache_accesslog_parser

    # deterministic 1/5 sample: full-table parse adds bench noise (150k
    # timestamp rows collected), not correctness signal
    o = _t(spark, sf_dir, "orders", wide=True).filter(F.pmod("o_orderkey", F.lit(5)) == 0)
    ts = F.date_format(
        F.col("o_orderdate").cast("timestamp"), "dd/MMM/yyyy:HH:mm:ss Z"
    )
    line = F.concat(
        F.lit("10.0."), F.pmod("o_custkey", F.lit(256)).cast("string"),
        F.lit(".1 - frank ["), ts, F.lit('] "GET /orders/'),
        F.col("o_orderkey").cast("string"), F.lit(' HTTP/1.0" '),
        F.when(F.col("o_orderstatus") == "F", 200).otherwise(404).cast("string"),
        F.lit(" "), F.round("o_totalprice").cast("long").cast("string"),
    )
    parsed = apache_accesslog_parser(o.withColumn("text", line))
    return parsed.select(
        "o_orderkey",
        F.col("`.apache.clientip`").alias("clientip"),
        F.col("`.apache.request`").alias("request"),
        F.col("`.apache.response`").alias("response"),
        F.col("`.apache.bytes`").alias("bytes"),
        F.col("`.apache.stamp`").alias("stamp"),
    ).orderBy("o_orderkey")


_SCL_APACHE_SQL = """
SELECT o_orderkey,
       '10.0.' || CAST(o_custkey % 256 AS VARCHAR) || '.1' AS clientip,
       '/orders/' || CAST(o_orderkey AS VARCHAR) AS request,
       CASE WHEN o_orderstatus = 'F' THEN 200 ELSE 404 END AS response,
       CAST(round(o_totalprice) AS BIGINT) AS bytes,
       CAST(o_orderdate AS TIMESTAMP) AS stamp
FROM orders WHERE o_orderkey % 5 = 0 ORDER BY o_orderkey
"""


def q_scl_linux_audit(spark, sf_dir):
    """SCL linux-audit preset (scl/linux-audit + modules/kvformat/
    linux-audit-parser.c), inverse-property gate: audit records are
    formatted from documents columns with the text field HEX-ENCODED the
    way the kernel does (values containing spaces/quotes/control bytes),
    plus a nested msg='...' payload; the parser must hex-DECODE the
    proctitle back to the original text and lift the nested kv under
    .auditd.msg. — DuckDB recomputes everything from the source columns."""
    from syslog_ng_spark.operators.scl import linux_audit_parser

    d = _t(spark, sf_dir, "documents").withColumn(
        "_snippet", F.substring("text", 1, 40)
    )
    line = F.concat(
        F.lit("type=SYSCALL msg=audit("), F.col("doc_id").cast("string"),
        F.lit(".0:1): syscall=2 comm=\"w\" proctitle="),
        F.lower(F.hex(F.encode(F.col("_snippet"), "UTF-8"))),
        F.lit(" msg='op=doc lang="), F.col("lang"), F.lit(" res=success'"),
    )
    parsed = linux_audit_parser(d.withColumn("msg", line))
    m = F.col("auditd")
    return parsed.select(
        "doc_id",
        F.element_at(m, ".auditd.proctitle").alias("proctitle"),
        F.element_at(m, ".auditd.comm").alias("comm"),
        F.element_at(m, ".auditd.msg.lang").alias("lang2"),
        F.element_at(m, ".auditd.msg.res").alias("res"),
    ).orderBy("doc_id")


# the parser decodes proctitle only when the decoded bytes NEED encoding
# (space/quote/control — parse_linux_audit_style_hexdump); 40-char doc
# snippets always contain a space, so every row decodes.
_SCL_AUDIT_SQL = """
SELECT doc_id,
       substring(text, 1, 40) AS proctitle,
       'w' AS comm,
       lang AS lang2,
       'success' AS res
FROM documents ORDER BY doc_id
"""


def q_scl_snmptrapd(spark, sf_dir):
    """SCL snmptrapd preset (modules/afsnmp snmptrapd-header-parser.c +
    varbindlist-scanner.c), inverse-property gate: v2 trap text is
    formatted from customer columns (header + two varbinds — one
    INTEGER-annotated, one quoted STRING), parsed back with
    snmptrapd_parser, and DuckDB recomputes every extracted field
    straight from the source columns."""
    from syslog_ng_spark.operators.scl import snmptrapd_parser

    c = _t(spark, sf_dir, "customer")
    trap = F.concat(
        F.lit("2026-03-01 10:20:30 host"), F.col("c_custkey").cast("string"),
        F.lit(" [UDP: [127.0.0.1]:1->[127.0.0.1]:162]:\n"),
        F.lit("sys.bal."), F.col("c_custkey").cast("string"),
        F.lit(" = INTEGER: "), F.col("c_acctbal").cast("string"),
        F.lit("\tuser.seg = STRING: \""), F.col("c_mktsegment"), F.lit("\""),
    )
    parsed = snmptrapd_parser(c.withColumn("trap", trap), source="trap")
    m = F.col("snmp")
    return parsed.select(
        "c_custkey",
        F.element_at(m, ".snmp.hostname").alias("hostname"),
        F.element_at(m, ".snmp.transport_info").alias("transport"),
        F.element_at(
            m, F.concat(F.lit(".snmp.sys.bal."), F.col("c_custkey").cast("string"))
        ).alias("bal"),
        F.element_at(m, ".snmp.user.seg").alias("seg"),
        F.col("snmptrapd_matched").alias("matched"),
    ).orderBy("c_custkey")


_SCL_SNMPTRAPD_SQL = """
SELECT c_custkey,
       'host' || CAST(c_custkey AS VARCHAR) AS hostname,
       'UDP: [127.0.0.1]:1->[127.0.0.1]:162' AS transport,
       CAST(c_acctbal AS VARCHAR) AS bal,
       c_mktsegment AS seg,
       true AS matched
FROM customer ORDER BY c_custkey
"""


def q_getent(spark, sf_dir):
    """$(getent) (modules/getent): passwd/services lookups against a
    registered table — numeric key defaults to the name member, explicit
    member selection, services port→name; DuckDB oracle is the
    equivalent CASE mapping."""
    from syslog_ng_spark.operators.enrich import getent, register_getent_table

    register_getent_table("passwd", [
        {"name": "root", "uid": 0, "gid": 0, "gecos": "root", "dir": "/root", "shell": "/bin/bash"},
        {"name": "daemon", "uid": 1, "gid": 1, "gecos": "d", "dir": "/usr/sbin", "shell": "/usr/sbin/nologin"},
        {"name": "app", "uid": 2, "gid": 100, "gecos": "", "dir": "/srv/app", "shell": "/bin/sh"},
        {"name": "batch", "uid": 3, "gid": 100, "gecos": "", "dir": "/srv/batch", "shell": "/bin/zsh"},
    ])
    register_getent_table("services", [
        {"name": "ssh", "number": 22}, {"name": "http", "number": 80},
        {"name": "https", "number": 443},
    ])
    c = _t(spark, sf_dir, "customer").withColumn(
        "uid", F.pmod("c_custkey", F.lit(4)).cast("string")
    ).withColumn(
        "port",
        F.element_at(
            F.array(F.lit("22"), F.lit("80"), F.lit("443")),
            F.pmod("c_custkey", F.lit(3)).cast("int") + 1,
        ),
    )
    return c.select(
        "c_custkey",
        getent("passwd", "uid").alias("user_name"),
        getent("passwd", "uid", "shell").alias("shell"),
        getent("services", "port").alias("service"),
    ).orderBy("c_custkey")


_GETENT_SQL = """
SELECT c_custkey,
       CASE c_custkey % 4 WHEN 0 THEN 'root' WHEN 1 THEN 'daemon'
            WHEN 2 THEN 'app' ELSE 'batch' END AS user_name,
       CASE c_custkey % 4 WHEN 0 THEN '/bin/bash' WHEN 1 THEN '/usr/sbin/nologin'
            WHEN 2 THEN '/bin/sh' ELSE '/bin/zsh' END AS shell,
       CASE c_custkey % 3 WHEN 0 THEN 'ssh' WHEN 1 THEN 'http'
            ELSE 'https' END AS service
FROM customer ORDER BY c_custkey
"""


def q_stats_aggregate(spark, sf_dir):
    """stats aggregators (§2.7): running average / maximum / EPS per key
    (stats-average.c, stats-maximum.c, stats-change-per-second.c)."""
    from syslog_ng_spark.operators.grouping import stats_aggregate

    ev = _t(spark, sf_dir, "events")
    out = stats_aggregate(ev, ["event_type"], "value")
    return out.select(
        "event_type",
        F.round("avg_value", 6).alias("avg_value"),
        F.round("max_value", 6).alias("max_value"),
        "count",
        F.round("eps", 8).alias("eps"),
    ).orderBy("event_type")


_STATS_SQL = """
SELECT event_type,
       round(avg(value), 6) AS avg_value,
       round(max(value), 6) AS max_value,
       count(*) AS count,
       round(count(*) / greatest(epoch(max(ts)) - epoch(min(ts)), 1), 8) AS eps
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: 24 independent 3-plane LSH tables
    generate candidates, exact cosine (numpy UDF over broadcast-joined
    vectors) verifies. Oracle = brute-force all-pairs cosine. The synthetic
    embeddings are near-isotropic (max pairwise cos ≈ 0.51), the LSH
    worst case — threshold 0.45 keeps the result non-trivial and the
    table count is sized for recall ≈ 1 at that angle (miss ≈ 0.72^24
    per pair); real corpora near-dup at cos ≥ 0.9 use p=12+/L=8 for
    selectivity instead (see embedding_near_dup docstring)."""
    from syslog_ng_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = embedding_near_dup(emb, threshold=0.45, n_planes=3, n_tables=24)
    return out.select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    ).orderBy("id_a", "id_b")


_EMBED_NEARDUP_SQL = """
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 6) AS cos FROM p WHERE c >= 0.45
ORDER BY id_a, id_b
"""


def q_macro_format(spark, sf_dir):
    """Macro library (§2.3, macros.c formats): the date/priority macro
    families rendered per event — ISOWEEK/WEEK_DAY/HOUR12/AMPM/YEAR_DAY
    plus severity/facility derivations from a synthesized pri."""
    from syslog_ng_spark.functions.macros import macro

    ev = _t(spark, sf_dir, "events").withColumn(
        "pri", F.pmod(F.col("event_id"), F.lit(192)).cast("int")
    )
    names = [
        "ISODATE", "YEAR_DAY", "MONTH_NAME", "HOUR12", "AMPM", "WEEK_DAY",
        "ISOWEEK", "UNIXTIME", "SEVERITY_NUM", "FACILITY_NUM", "TAG",
    ]
    return ev.select(
        "event_id", *[macro(n).alias(n.lower()) for n in names]
    ).orderBy("event_id")


_MACRO_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%dT%H:%M:%S+00:00') AS isodate,
       strftime(ts, '%j') AS year_day,
       strftime(ts, '%B') AS month_name,
       strftime(ts, '%I') AS hour12,
       strftime(ts, '%p') AS ampm,
       CAST(dayofweek(ts) + 1 AS VARCHAR) AS week_day,
       lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0') AS isoweek,
       CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) AS unixtime,
       CAST((event_id % 192) % 8 AS INT) AS severity_num,
       CAST((event_id % 192) // 8 AS INT) AS facility_num,
       lpad(lower(to_hex(event_id % 192)), 2, '0') AS tag
FROM events ORDER BY event_id
"""


def q_pdb_correlate(spark, sf_dir):
    """PatternDB correlation contexts (§2.7, pdb-context.c): rules with
    context-id/context-timeout group matched rows into contexts closed by
    60s event-time silence; emits per-context length + bounds. Loaded
    from an XML ruleset (pdb-load.c analogue) to exercise the loader on
    the gate too."""
    from syslog_ng_spark.operators.patterndb import load_patterndb_xml, patterndb, pdb_correlate

    xml = """<patterndb version='5'>
      <ruleset name='events'><pattern>events</pattern>
        <rules>
          <rule id='r_evt' class='system' context-id='${uid}'
                context-timeout='3600' context-scope='global'>
            <pattern>user @NUMBER:uid@ hit @ANYSTRING:rest@</pattern>
          </rule>
        </rules>
      </ruleset>
    </patterndb>"""
    rules, _ = load_patterndb_xml(xml)
    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "line", F.format_string("user %d hit %s", "user_id", "event_type")
    )
    classified = patterndb(ev, rules, program_col=F.lit("events"), text_col="line")
    out = pdb_correlate(classified, rules, ts_col="ts")
    return out.select(
        F.col("context_id"),
        F.col("context_len"),
        F.col("first_ts"),
        F.col("last_ts"),
    ).orderBy(F.col("context_id").cast("int"), "first_ts")


_PDB_CORRELATE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 3600
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_ctx
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, ts)
), ctx AS (
  SELECT user_id, ts,
         sum(new_ctx) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS cid
  FROM marked
)
SELECT CAST(user_id AS VARCHAR) AS context_id, count(*) AS context_len,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM ctx GROUP BY user_id, cid ORDER BY user_id, first_ts
"""


def _guarded(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_conf(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _guarded(fn) for name, fn in _raw_queries().items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "flagship_route": q_flagship_route,
        "filter_cmp": q_filter_cmp,
        "kv_parse": q_kv_parse_roundtrip,
        "json_parse": q_json_parse,
        "csv_parse": q_csv_parse,
        "regexp_parse": q_regexp_parse,
        "rewrite_subst_mask": q_rewrite_subst_mask,
        "rewrite_ops": q_rewrite_ops,
        "tags_netmask": q_tags_netmask,
        "match_modes": q_match_modes,
        "timezone_ops": q_timezone_ops,
        "chunk_docs": q_chunk_docs,
        "media_featurize": q_media_featurize,
        "grouping_by": q_grouping_by,
        "salted_agg": q_salted_agg,
        "session_windows": q_session_windows,
        "session_windows_chunked": q_session_windows_chunked,
        "suppress": q_suppress,
        "rate_limit": q_rate_limit,
        "broadcast_enrich": q_broadcast_enrich,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "topk_per_group": q_topk_per_group,
        "exact_dedup": q_exact_dedup,
        "textstats": q_textstats,
        "similarity_topk": q_similarity_topk,
        "patterndb_classify": q_patterndb_classify,
        "template_format": q_template_format,
        "route_metrics": q_route_metrics,
        "date_parser": q_date_parser,
        "value_pairs_select": q_value_pairs_select,
        "group_lines": q_group_lines,
        "geoip_enrich": q_geoip_enrich,
        "stats_aggregate": q_stats_aggregate,
        "macro_format": q_macro_format,
        "pdb_correlate": q_pdb_correlate,
        "minhash_neardup": q_minhash_neardup,
        "near_dup_clusters": q_near_dup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "embedding_neardup": q_embedding_neardup,
        # every entry below also has a DuckDB oracle in oracle_sql()
        # (transcript_pipeline writes its parsed corpus to parquet so
        # DuckDB reads the same bytes; the SCL presets use the
        # inverse-property formulation — see each docstring)
        "transcript_pipeline": q_transcript_pipeline,
        "scl_sudo": q_scl_sudo,
        "scl_apache": q_scl_apache,
        "scl_linux_audit": q_scl_linux_audit,
        "scl_snmptrapd": q_scl_snmptrapd,
        "getent": q_getent,
        "ivf_topk": q_ivf_topk,
        "patternize": q_patternize,
        "patternize_iter": q_patternize_iter,
        "stream_route_parity": q_stream_route_parity,
        "decontaminate": q_decontaminate,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "normalize_text": q_normalize_text,
        "pack_chunked": q_pack_chunked,
        "curation_pipeline": q_curation_pipeline,
        "xml_parse": q_xml_parse,
        "mix_sources": q_mix_sources,
        "shuffle_shards": q_shuffle_shards,
        "unigram_logprob": q_unigram_logprob,
        "unigram_logprob_topk": q_unigram_logprob_topk,
        "pack_greedy": q_pack_greedy,
        "line_dedup": q_line_dedup,
        "dsir_select": q_dsir_select,
        "bm25_search": q_bm25_search,
        "hybrid_search": q_hybrid_search,
        "scl_pgsql": q_scl_pgsql,
        "scl_cisco": q_scl_cisco,
        "scl_panos": q_scl_panos,
        "url_curation": q_url_curation,
        "domain_stats": q_domain_stats,
        "length_stats": q_length_stats,
        "stratified_sample": q_stratified_sample,
        "html_strip": q_html_strip,
        "winnow_fps": q_winnow_fps,
        "winnow_neardup": q_winnow_neardup,
        "gopher_quality": q_gopher_quality,
        "dedup_keep_best": q_dedup_keep_best,
        "web_curation": q_web_curation,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "flagship_route": _FLAGSHIP_SQL,
        "filter_cmp": _FILTER_SQL,
        "kv_parse": _KV_SQL,
        "json_parse": _JSON_SQL,
        "csv_parse": _CSV_SQL,
        "regexp_parse": _REGEXP_SQL,
        "rewrite_subst_mask": _REWRITE_SQL,
        "rewrite_ops": _REWRITE_OPS_SQL,
        "tags_netmask": _TAGS_NETMASK_SQL,
        "match_modes": _MATCH_MODES_SQL,
        "timezone_ops": _TIMEZONE_SQL,
        "chunk_docs": _CHUNK_DOCS_SQL,
        "media_featurize": _MEDIA_FEATURIZE_SQL,
        "grouping_by": _GROUPING_SQL,
        "salted_agg": _SALTED_SQL,
        "session_windows": _SESSION_SQL,
        "session_windows_chunked": _SESSION_SQL,
        "suppress": _SUPPRESS_SQL,
        "rate_limit": _RATE_SQL,
        "broadcast_enrich": _ENRICH_SQL,
        "tpch_q1": _TPCH_Q1_SQL,
        "tpch_q3": _TPCH_Q3_SQL,
        "topk_per_group": _TOPK_SQL,
        "exact_dedup": _DEDUP_SQL,
        "textstats": _TEXTSTATS_SQL,
        "similarity_topk": _SIM_SQL,
        "patterndb_classify": _PATTERNDB_SQL,
        "template_format": _TEMPLATE_SQL,
        "route_metrics": _ROUTE_METRICS_SQL,
        "date_parser": _DATE_SQL,
        "value_pairs_select": _VALUE_PAIRS_SQL,
        "group_lines": _GROUP_LINES_SQL,
        "geoip_enrich": _GEOIP_SQL,
        "stats_aggregate": _STATS_SQL,
        "macro_format": _MACRO_SQL,
        "pdb_correlate": _PDB_CORRELATE_SQL,
        "minhash_neardup": _EXACT_JACCARD_SQL,
        "near_dup_clusters": _NEAR_DUP_CLUSTERS_SQL,
        "simhash_neardup": _EXACT_JACCARD_SQL,
        "embedding_neardup": _EMBED_NEARDUP_SQL,
        "transcript_pipeline": _TRANSCRIPT_SQL,
        "scl_sudo": _SCL_SUDO_SQL,
        "scl_apache": _SCL_APACHE_SQL,
        "scl_linux_audit": _SCL_AUDIT_SQL,
        "scl_snmptrapd": _SCL_SNMPTRAPD_SQL,
        "getent": _GETENT_SQL,
        "ivf_topk": _SIM_SQL,
        "patternize": _PATTERNIZE_SQL,
        "patternize_iter": _PATTERNIZE_ITER_SQL,
        "stream_route_parity": _STREAM_PARITY_SQL,
        "decontaminate": _DECONTAMINATE_SQL,
        "repetition_stats": _REPETITION_SQL,
        "pii_scrub": _PII_SQL,
        "normalize_text": _NORMALIZE_SQL,
        "pack_chunked": _PACK_SQL,
        "curation_pipeline": _CURATION_SQL,
        "xml_parse": _XML_SQL,
        "mix_sources": _MIX_SQL,
        "shuffle_shards": _SHUFFLE_SQL,
        "unigram_logprob": _UNIGRAM_SQL,
        "unigram_logprob_topk": _UNIGRAM_TOPK_SQL,
        "pack_greedy": _PACK_GREEDY_SQL,
        "line_dedup": _LINE_DEDUP_SQL,
        "dsir_select": _DSIR_SQL,
        "bm25_search": _BM25_SQL,
        "hybrid_search": _HYBRID_SQL,
        "scl_pgsql": _SCL_PGSQL_SQL,
        "scl_cisco": _SCL_CISCO_SQL,
        "scl_panos": _SCL_PANOS_SQL,
        "url_curation": _URL_SQL,
        "domain_stats": _DOMAIN_STATS_SQL,
        "length_stats": _LENGTH_STATS_SQL,
        "stratified_sample": _STRATIFIED_SQL,
        "html_strip": _HTML_STRIP_SQL,
        "winnow_fps": _WINNOW_FPS_SQL,
        "winnow_neardup": _WINNOW_PAIRS_SQL,
        "gopher_quality": _GOPHER_SQL,
        "dedup_keep_best": _DEDUP_KEEP_BEST_SQL,
        "web_curation": _WEB_CURATION_SQL,
    }


def q_value_pairs_select(spark, sf_dir):
    """value-pairs (§2.3): scope selection + glob include + rekey."""
    from syslog_ng_spark.functions.value_pairs import Rekey, value_pairs
    from syslog_ng_spark.operators.parsers import json_parser

    ev = _t(spark, sf_dir, "events", wide=True)
    parsed = json_parser(ev, source="props", target="nv")
    vp = value_pairs(
        parsed, scopes=["nv-pairs"], include=["k*"], rekey=Rekey().add_prefix("p.")
    )
    return vp.select(
        "event_id", F.explode("vp").alias("key", "value")
    ).orderBy("event_id", "key")


_VALUE_PAIRS_SQL = """
SELECT event_id, 'p.k' AS key, regexp_extract(props, '"k": (\\d+)', 1) AS value
FROM events ORDER BY event_id, key
"""


def q_group_lines(spark, sf_dir):
    """group-lines (§2.5): multi-line reassembly — records start at
    'signup' events per user, lines join ordered by event_id."""
    from syslog_ng_spark.operators.parsers import group_lines

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.col("event_id").alias("turn_idx"),
        F.format_string("%s#%d", "event_type", "event_id").alias("text"),
    )
    out = group_lines(
        ev,
        key=["user_id"],
        order_by="turn_idx",
        mode="regexp",
        line_start_regex="^signup",
        separator="|",
    )
    return out.select("user_id", "turn_idx", "text", "n_lines").orderBy(
        "user_id", "turn_idx"
    )


_GROUP_LINES_SQL = """
WITH lines AS (
  SELECT user_id, ts, event_id AS turn_idx,
         event_type || '#' || event_id AS text,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_start
  FROM events
), rec AS (
  SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY turn_idx
                                ROWS UNBOUNDED PRECEDING) AS rec_id
  FROM lines
)
SELECT user_id, min(turn_idx) AS turn_idx,
       string_agg(text, '|' ORDER BY turn_idx) AS text,
       count(*) AS n_lines
FROM rec GROUP BY user_id, rec_id ORDER BY user_id, turn_idx
"""


def q_geoip_enrich(spark, sf_dir):
    """geoip (§2.5): CIDR lookup via prefix-bucketed broadcast join."""
    from syslog_ng_spark.operators.enrich import cidr_table, geoip

    lookup = cidr_table(
        spark,
        [
            ("10.0.0.0/9", {"country": "alpha"}),
            ("10.128.0.0/9", {"country": "beta"}),
            ("10.64.0.0/10", {"country": "gamma"}),  # more specific than alpha
        ],
    )
    ev = _t(spark, sf_dir, "events", wide=True).withColumn(
        "src_ip",
        F.format_string(
            "10.%d.%d.%d",
            F.pmod("user_id", F.lit(256)),
            F.pmod("event_id", F.lit(256)),
            F.pmod(F.col("event_id") + F.col("user_id"), F.lit(254)) + 1,
        ),
    )
    out = geoip(ev, lookup)
    return (
        out.withColumn("country", F.element_at("geo", "country"))
        .groupBy("country")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("country")
    )


_GEOIP_SQL = """
WITH ip AS (
  SELECT (user_id % 256) AS o2 FROM events
)
SELECT CASE WHEN o2 < 64 THEN 'alpha'
            WHEN o2 < 128 THEN 'gamma'
            ELSE 'beta' END AS country,
       count(*) AS n
FROM ip GROUP BY 1 ORDER BY country
"""


# patternize gate: the corpus is written to parquet so DuckDB mines the
# SAME bytes with an independent SQL expression of SLCT
_PATTERNIZE_GATE_PATH = "/tmp/syslog_ng_spark_gate/patternize_corpus.parquet"
_PATTERNIZE_SUPPORT = 40
# default delimiter set (pdbtool.c:1144) as a regex char class, escaped
# for SQL string literals ('' = one quote)
_PTZ_CC_SQL = "[ :&~?!\\[\\]=,;()''\"]"
_PTZ_NCC_SQL = "[^ :&~?!\\[\\]=,;()''\"]"


def q_patternize(spark, sf_dir):
    """patternize / SLCT pattern mining (modules/correlation/
    patternize.c): mine the frequent message templates out of the
    deterministic transcript corpus and emit @ESTRING@ patterns with
    their support counts. The corpus is materialized to parquet so the
    DuckDB oracle (an independent SQL formulation of SLCT: per-position
    word counts -> frequent set -> cluster key -> pattern render) scores
    byte-identical input."""
    from syslog_ng_spark.datagen import transcripts
    from syslog_ng_spark.operators.patternize import patternize

    df = transcripts(spark, n_convs=500, avg_turns=10)
    df.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("rid"),
        F.col("text").alias("msg"),
    ).repartition(1).write.mode("overwrite").parquet(_PATTERNIZE_GATE_PATH)
    corpus = spark.read.parquet(_PATTERNIZE_GATE_PATH)
    clusters = patternize(
        corpus,
        support=_PATTERNIZE_SUPPORT,
        msg_col="msg",
        num_samples=0,
        id_col="rid",
    )
    return (
        clusters.select("pattern", F.col("support").cast("long").alias("support"))
        .orderBy("pattern", "support")
    )


_PATTERNIZE_SQL = f"""
WITH src AS (
  SELECT rid, msg FROM read_parquet('{_PATTERNIZE_GATE_PATH}/*.parquet')
),
tok0 AS (
  SELECT rid,
         CASE WHEN msg = '' THEN [] ELSE regexp_split_to_array(msg, '{_PTZ_CC_SQL}') END AS arr,
         regexp_replace(msg, '{_PTZ_NCC_SQL}', '', 'g') AS delims
  FROM src
),
toks AS (
  SELECT rid, unnest(arr) AS word, unnest(generate_series(1, len(arr))) - 1 AS pos
  FROM tok0
),
freq AS (
  SELECT pos, word FROM toks GROUP BY pos, word
  HAVING count(*) >= {_PATTERNIZE_SUPPORT}
),
flagged AS (
  SELECT t.rid, t.pos, t.word, (f.word IS NOT NULL) AS fq
  FROM toks t LEFT JOIN freq f ON t.pos = f.pos AND t.word = f.word
),
keyed AS (
  SELECT g.rid,
         bool_or(g.fq) AS cand,
         string_agg(CASE WHEN g.fq THEN g.pos || ' ' || g.word
                         ELSE g.pos || ' ' || chr(26) END, chr(30) ORDER BY g.pos)
           || chr(30) || any_value(k.delims) || chr(30) AS ckey,
         string_agg(CASE
             WHEN g.fq THEN replace(g.word, '@', '@@') ||
                  CASE WHEN g.pos < len(k.arr) - 1 THEN substr(k.delims, g.pos + 1, 1) ELSE '' END
             WHEN g.pos < len(k.arr) - 1 THEN '@ESTRING::' || substr(k.delims, g.pos + 1, 1) || '@'
             ELSE '' END, '' ORDER BY g.pos) AS pattern
  FROM flagged g JOIN tok0 k USING (rid)
  GROUP BY g.rid
)
SELECT pattern, CAST(count(*) AS BIGINT) AS support
FROM keyed WHERE cand GROUP BY ckey, pattern
HAVING count(*) >= {_PATTERNIZE_SUPPORT}
ORDER BY pattern, support
"""


_PATTERNIZE_ITER_PATH = (
    "/tmp/syslog_ng_spark_gate/patternize_iter_corpus.parquet"
)


def _ptz_round_ctes(sfx: str, src: str, sup: str) -> str:
    """One SLCT mining round as suffixed DuckDB CTEs (same formulation
    as _PATTERNIZE_SQL) — lets the iterate-outliers oracle chain two
    rounds with the second round's support computed in-SQL."""
    return f"""
tok0_{sfx} AS (
  SELECT rid,
         CASE WHEN msg = '' THEN [] ELSE regexp_split_to_array(msg, '{_PTZ_CC_SQL}') END AS arr,
         regexp_replace(msg, '{_PTZ_NCC_SQL}', '', 'g') AS delims
  FROM {src}
),
toks_{sfx} AS (
  SELECT rid, unnest(arr) AS word, unnest(generate_series(1, len(arr))) - 1 AS pos
  FROM tok0_{sfx}
),
freq_{sfx} AS (
  SELECT pos, word FROM toks_{sfx} GROUP BY pos, word
  HAVING count(*) >= {sup}
),
flagged_{sfx} AS (
  SELECT t.rid, t.pos, t.word, (f.word IS NOT NULL) AS fq
  FROM toks_{sfx} t LEFT JOIN freq_{sfx} f ON t.pos = f.pos AND t.word = f.word
),
keyed_{sfx} AS (
  SELECT g.rid,
         bool_or(g.fq) AS cand,
         string_agg(CASE WHEN g.fq THEN g.pos || ' ' || g.word
                         ELSE g.pos || ' ' || chr(26) END, chr(30) ORDER BY g.pos)
           || chr(30) || any_value(k.delims) || chr(30) AS ckey,
         string_agg(CASE
             WHEN g.fq THEN replace(g.word, '@', '@@') ||
                  CASE WHEN g.pos < len(k.arr) - 1 THEN substr(k.delims, g.pos + 1, 1) ELSE '' END
             WHEN g.pos < len(k.arr) - 1 THEN '@ESTRING::' || substr(k.delims, g.pos + 1, 1) || '@'
             ELSE '' END, '' ORDER BY g.pos) AS pattern
  FROM flagged_{sfx} g JOIN tok0_{sfx} k USING (rid)
  GROUP BY g.rid
),
clusters_{sfx} AS (
  SELECT ckey, pattern, CAST(count(*) AS BIGINT) AS support
  FROM keyed_{sfx} WHERE cand GROUP BY ckey, pattern
  HAVING count(*) >= {sup}
)"""


def q_patternize_iter(spark, sf_dir):
    """patternize -o / PTZ_ITERATE_OUTLIERS (patternize.c:381-425): the
    outlier loop re-mines lines that joined no SURVIVING cluster with
    support recomputed as outliers x threshold%, until a round mines
    nothing. The corpus plants two support tiers — 'alpha' (200 lines,
    >= the round-1 support 40) and 'beta' (30 lines, below 40 but >= the
    round-2 support floor(300 x 4%) = 12) — plus 270 unique-word noise
    lines so round 3 provably mines nothing. The DuckDB oracle chains
    two full mining rounds with round 2's support computed in-SQL from
    the round-1 outlier count."""
    from syslog_ng_spark.operators.patternize import patternize

    rows = (
        [(f"a{i}", f"alpha job {i} done") for i in range(200)]
        + [(f"b{i}", f"beta sync {i} ok") for i in range(30)]
        + [(f"n{i}", f"nz{i}q vw{i}r") for i in range(270)]
    )
    # one-slice parallelize: createDataFrame slices the local list into
    # defaultParallelism pickled partitions and coalesce(1) would run
    # them as ~32 sequential Python evaluations in one task
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), "rid string, msg string"
    )
    df.write.mode("overwrite").parquet(_PATTERNIZE_ITER_PATH)
    corpus = spark.read.parquet(_PATTERNIZE_ITER_PATH)
    clusters = patternize(
        corpus,
        support=40,
        support_threshold=4.0,
        msg_col="msg",
        num_samples=0,
        id_col="rid",
        iterate_outliers=True,
    )
    return clusters.select(
        "pattern", F.col("support").cast("long").alias("support")
    ).orderBy("pattern", "support")


_PATTERNIZE_ITER_SQL = f"""
WITH src_1 AS (
  SELECT rid, msg FROM read_parquet('{_PATTERNIZE_ITER_PATH}/*.parquet')
),{_ptz_round_ctes("1", "src_1", "40")},
outlier_1 AS (
  SELECT rid FROM keyed_1
  WHERE NOT cand OR ckey NOT IN (SELECT ckey FROM clusters_1)
),
src_2 AS (
  SELECT s.rid, s.msg FROM src_1 s JOIN outlier_1 o USING (rid)
),
sup_2 AS (
  SELECT CAST(floor(count(*) * 4.0 / 100.0) AS BIGINT) AS v FROM src_2
),{_ptz_round_ctes("2", "src_2", "(SELECT v FROM sup_2)")}
SELECT pattern, support FROM clusters_1
UNION ALL
SELECT pattern, support FROM clusters_2
ORDER BY pattern, support
"""


# stream-route parity gate: the SAME parsed corpus routed twice — once
# through the streaming daemon analogue (foreachBatch micro-batches,
# several triggers via maxFilesPerTrigger), once through the batch
# Pipeline — must land identical per-sink counts (the reference is ONE
# daemon; batch and stream are two execution modes of the same plan,
# lib/metrics-pipe.c:35-36 parity).
_STREAM_GATE_BASE = "/tmp/syslog_ng_spark_gate/stream_route"


def q_stream_route_parity(spark, sf_dir):
    """Oracled batch-vs-stream parity (VERDICT r4 #3): route the
    deterministic transcript corpus through stream_route (foreachBatch,
    availableNow, maxFilesPerTrigger=2 → multiple micro-batches with a
    real checkpoint) and through the batch Pipeline; assert per-sink
    equality in-query and return the streaming sink counts. The corpus
    parquet is what DuckDB scores."""
    import shutil

    from syslog_ng_spark.datagen import transcripts
    from syslog_ng_spark.operators.parsers import kv_parser, syslog_parser
    from syslog_ng_spark.plans import LogPath, Pipeline
    from syslog_ng_spark.streaming.stream import read_stream_source, stream_route

    base = _STREAM_GATE_BASE
    shutil.rmtree(base, ignore_errors=True)
    corpus_path = f"{base}/corpus.parquet"

    df = transcripts(spark, n_convs=500, avg_turns=10)
    kv_parser(syslog_parser(df), source="msg").select(
        "conv_id", "turn_idx", "pri", "syslog_matched", "tool"
    ).repartition(8).write.mode("overwrite").parquet(corpus_path)
    parsed = spark.read.parquet(corpus_path)

    def mk_pipe():
        return Pipeline(
            [
                LogPath(
                    "security",
                    F.coalesce(
                        F.pmod(F.col("pri"), F.lit(8)).isin([0, 1, 2, 3])
                        & F.col("syslog_matched"),
                        F.lit(False),
                    ),
                    frozenset(["final"]),
                ),
                LogPath("bash", F.col("tool") == "bash"),
                LogPath("other", None, frozenset(["fallback"])),
            ]
        )

    stream = read_stream_source(spark, corpus_path, parsed.schema, max_files_per_trigger=2)
    q = stream_route(stream, mk_pipe(), f"{base}/sinks", f"{base}/ckpt").start()
    q.awaitTermination(300)

    batch = (
        mk_pipe()
        .route(parsed, persist=True)
        .metrics()
        .select("path", "route_egress_total")
    )
    batch_counts = {r.path: r.route_egress_total for r in batch.collect()}
    stream_counts = {
        p: spark.read.parquet(f"{base}/sinks/{p}").count()
        for p in ("security", "bash", "other")
    }
    assert stream_counts == batch_counts, (
        f"batch-vs-stream routing parity broken: {stream_counts} vs {batch_counts}"
    )
    rows = [(p, stream_counts[p]) for p in sorted(stream_counts)]
    return spark.createDataFrame(rows, "path string, sink_rows long").orderBy("path")


_STREAM_PARITY_SQL = f"""
WITH p AS (
  SELECT CASE
           WHEN coalesce(syslog_matched AND pri % 8 IN (0, 1, 2, 3), false)
             THEN 'security'
           WHEN tool = 'bash' THEN 'bash'
           ELSE 'other'
         END AS path
  FROM read_parquet('{_STREAM_GATE_BASE}/corpus.parquet/*.parquet')
)
SELECT path, CAST(count(*) AS BIGINT) AS sink_rows
FROM p GROUP BY path ORDER BY path
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (§LLM-pipeline): 5-gram overlap of every
    document against a broadcast 'benchmark' set (every 20th document).
    The corpus side never shuffles: per-doc distinct grams are
    document-local (array_distinct), the benchmark gram set is
    broadcast (map-side semi-join probe), and only MATCHED grams reach
    the per-doc overlap count (operators/decontaminate.py)."""
    from syslog_ng_spark.operators.decontaminate import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    out = decontaminate(docs, bench, n=5)
    return out.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        "contaminated",
    ).orderBy("doc_id")


_DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - 3),
                i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
  FROM toks WHERE len(tk) >= 5
), dg AS (
  SELECT DISTINCT doc_id, g FROM grams
), bench AS (
  SELECT DISTINCT g FROM dg WHERE doc_id % 20 = 0
), ov AS (
  SELECT dg.doc_id, count(*) AS n_overlap
  FROM dg JOIN bench USING (g) GROUP BY dg.doc_id
), tot AS (
  SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_grams, 0) AS n_grams,
       coalesce(o.n_overlap, 0) AS n_overlap,
       coalesce(o.n_overlap, 0) >= 1 AS contaminated
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN ov o USING (doc_id)
ORDER BY doc_id
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition signals (§LLM-pipeline): duplicate-line and
    repeated-n-gram fractions per document (Rae et al. 2021 table A1
    family). Documents have no newlines and little self-repetition, so
    the query first plants boilerplate (the doc's first 60 chars appended
    twice) and breaks the text into 5-word lines — the planted repetition
    must then show up in the line AND n-gram signals
    (operators/repetition.py)."""
    from syslog_ng_spark.operators.repetition import repetition_stats

    docs = (
        _t(spark, sf_dir, "documents", wide=True)
        .withColumn(
            "text",
            F.concat_ws(
                "\n",
                "text",
                F.substring("text", 1, 60),
                F.substring("text", 1, 60),
            ),
        )
        .withColumn(
            "text",
            F.regexp_replace("text", r"(\w+ \w+ \w+ \w+ \w+) ", "$1\n"),
        )
    )
    out = repetition_stats(docs, top_ns=(2,), dup_ns=(5,))
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_2gram_char_frac", 6).alias("top_2gram_frac"),
        F.round("dup_5gram_char_frac", 6).alias("dup_5gram_frac"),
    ).orderBy("doc_id")


_REPETITION_SQL = """
WITH doc AS (
  SELECT doc_id,
         regexp_replace(
           concat_ws(chr(10), text,
                     substring(text, 1, 60), substring(text, 1, 60)),
           '(\\w+ \\w+ \\w+ \\w+ \\w+) ',
           '\\1' || chr(10), 'g') AS text
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, chr(10)),
                            l -> trim(l) <> '')) AS line
  FROM doc
), lc AS (
  SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line
), lstats AS (
  SELECT doc_id,
         coalesce(sum(c) FILTER (WHERE c > 1), 0)::DOUBLE
           / sum(c) AS dup_line_frac,
         coalesce(sum(c * length(line)) FILTER (WHERE c > 1), 0)::DOUBLE
           / sum(c * length(line)) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
), toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM doc
), g2c AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk)),
                  i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS g
    FROM toks WHERE len(tk) >= 2
  ) GROUP BY doc_id, g
), g2top AS (
  SELECT doc_id, c * length(g) AS top_chars,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, length(g) DESC) AS rn
  FROM g2c
), g5c AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tk) - 3),
                  i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS g
    FROM toks WHERE len(tk) >= 5
  ) GROUP BY doc_id, g
), g5d AS (
  SELECT doc_id,
         coalesce(sum(c * length(g)) FILTER (WHERE c > 1), 0) AS dup_chars,
         sum(c * length(g)) AS tot_chars
  FROM g5c GROUP BY doc_id
)
SELECT d.doc_id,
       round(coalesce(ls.dup_line_frac, 0), 6) AS dup_line_frac,
       round(coalesce(ls.dup_line_char_frac, 0), 6) AS dup_line_char_frac,
       round(CASE WHEN length(d.text) > 0 AND t2.top_chars IS NOT NULL
                  THEN least(1.0, t2.top_chars::DOUBLE / length(d.text))
                  ELSE 0 END, 6) AS top_2gram_frac,
       round(CASE WHEN g5.tot_chars > 0
                  THEN g5.dup_chars::DOUBLE / g5.tot_chars
                  ELSE 0 END, 6) AS dup_5gram_frac
FROM doc d
LEFT JOIN lstats ls USING (doc_id)
LEFT JOIN (SELECT doc_id, top_chars FROM g2top WHERE rn = 1) t2 USING (doc_id)
LEFT JOIN g5d g5 USING (doc_id)  -- join miss => tot_chars NULL => 0.0
ORDER BY d.doc_id
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (SS-LLM-pipeline): plant deterministic PII
    (email/SSN/IPv4 built from doc_id) into every document, scrub it
    with the fixed-order regexp chain, and report the scrubbed text +
    per-kind pre-scrub counts. Pure Column regexp_replace -- the
    generalized credit-card-mask (operators/pii.py)."""
    from syslog_ng_spark.operators.pii import pii_counts, pii_scrub

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 40),
            F.format_string(
                " mail u%d@example.com ssn %03d-%02d-%04d ip 10.%d.%d.%d end",
                F.col("doc_id"),
                F.pmod("doc_id", F.lit(1000)),
                F.pmod("doc_id", F.lit(100)),
                F.pmod("doc_id", F.lit(10000)),
                F.pmod("doc_id", F.lit(256)),
                F.pmod(F.col("doc_id") + 7, F.lit(256)),
                F.pmod(F.col("doc_id") + 13, F.lit(254)) + 1,
            ),
        ),
    )
    counted = pii_counts(docs, kinds=("email", "ssn", "ipv4"))
    out = pii_scrub(counted, kinds=("email", "ssn", "ipv4"), target="scrubbed")
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "scrubbed"
    ).orderBy("doc_id")


_PII_SQL = """
WITH planted AS (
  SELECT doc_id,
         substring(text, 1, 40) || printf(
           ' mail u%d@example.com ssn %03d-%02d-%04d ip 10.%d.%d.%d end',
           doc_id, doc_id % 1000, doc_id % 100, doc_id % 10000,
           doc_id % 256, (doc_id + 7) % 256, (doc_id + 13) % 254 + 1
         ) AS text
  FROM documents
), c1 AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
           '<EMAIL>', 'g') AS t1
  FROM planted
), c2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n_ssn,
         regexp_replace(t1, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t2
  FROM c1
), c3 AS (
  SELECT doc_id, n_email, n_ssn,
         len(regexp_extract_all(t2, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ipv4,
         regexp_replace(t2, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS scrubbed
  FROM c2
)
SELECT doc_id, n_email, n_ssn, n_ipv4, scrubbed
FROM c3 ORDER BY doc_id
"""


def q_normalize_text(spark, sf_dir):
    """Unicode normalization (SS-LLM-pipeline): plant decomposed
    accents (combining U+0301/U+0308) + a C0 control char, run the
    Arrow NFC UDF + control-strip + ASCII-whitespace collapse, and
    compare against DuckDB's native nfc_normalize
    (operators/normalize.py)."""
    from syslog_ng_spark.operators.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.substring("text", 1, 30),
            F.lit("  cafe\u0301   nai\u0308ve \u0007ctl  "),
        ),
    )
    out = normalize_text(docs, form="NFC", target="norm")
    return out.select("doc_id", "norm").orderBy("doc_id")


_NORMALIZE_SQL = """
SELECT doc_id,
       trim(regexp_replace(
         nfc_normalize(regexp_replace(
           substring(text, 1, 30)
             || '  cafe' || chr(769) || '   nai' || chr(776) || 've '
             || chr(7) || 'ctl  ',
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')),
         '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS norm
FROM documents ORDER BY doc_id
"""


def q_pack_chunked(spark, sf_dir):
    """Sequence packing (SS-LLM-pipeline): GPT-style concat-then-chunk
    over documents ordered by doc_id with an 8192-token budget --
    global offsets via the two-phase scan (range repartition +
    per-partition cumsum + broadcast prefix table), no single-partition
    stage (operators/packing.py)."""
    from syslog_ng_spark.operators.packing import pack_chunked
    from syslog_ng_spark.operators.textstats import token_count

    from syslog_ng_spark.operators.dedup import _unpersist_on_gc

    # persist the sized frame: pack_chunked's bounds/totals/cumsum scans
    # would otherwise re-tokenize the text 3× (token_count is a HOF
    # split — no CSE across separate jobs)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    ).select("doc_id", "n_tokens").persist()
    out = pack_chunked(docs, budget=8192)
    res = out.select(
        "doc_id", "n_tokens", "start_off", "pack_first", "pack_last", "n_spans"
    ).orderBy("doc_id")
    _unpersist_on_gc(res, docs)
    return res


_PACK_SQL = """
WITH sized AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), offs AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM sized
)
SELECT doc_id, n_tokens, start_off,
       CAST(floor(start_off / 8192.0) AS BIGINT) AS pack_first,
       CAST(floor((start_off + greatest(n_tokens, 1) - 1) / 8192.0) AS BIGINT)
         AS pack_last,
       CAST(floor((start_off + greatest(n_tokens, 1) - 1) / 8192.0)
            - floor(start_off / 8192.0) + 1 AS BIGINT) AS n_spans
FROM offs ORDER BY doc_id
"""


def q_pack_greedy(spark, sf_dir):
    """First-fit sequence packing (LLM-pipeline, instruction-tuning
    layout): docs in doc_id order fill a pack until the next doc would
    overflow the 64-token budget, oversized docs close a pack of their
    own; 4 shards packed independently in parallel (exact serial
    semantics per shard via applyInPandas — operators/packing.py). The
    oracle replays the same walk as a DuckDB recursive CTE."""
    from syslog_ng_spark.operators.packing import pack_greedy
    from syslog_ng_spark.operators.textstats import token_count

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("n_tokens", token_count(F.col("text")).cast("long"))
        .withColumn("shard", F.pmod("doc_id", F.lit(4)).cast("string"))
        .select("doc_id", "n_tokens", "shard")
    )
    out = pack_greedy(docs, budget=64, shard_col="shard")
    return out.select("doc_id", "n_tokens", "shard", "pack_id").orderBy(
        "doc_id"
    )


_PACK_GREEDY_SQL = """
WITH RECURSIVE sized AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         END AS n_tokens,
         CAST(doc_id % 4 AS VARCHAR) AS shard
  FROM documents
), seq AS (
  SELECT shard, doc_id, n_tokens,
         CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
           AS rn
  FROM sized
), walk(shard, doc_id, n_tokens, rn, assigned, idx_out, fill_out) AS (
  -- first doc per shard: transition from state (idx=0, fill=0)
  SELECT shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT),
         CAST(CASE WHEN n_tokens >= 64 THEN 1 ELSE 0 END AS BIGINT),
         CAST(CASE WHEN n_tokens >= 64 THEN 0 ELSE n_tokens END AS BIGINT)
  FROM seq WHERE rn = 1
  UNION ALL
  -- next-fit walk: overflow closes the pack, oversized closes its own
  SELECT b.shard, b.doc_id, b.n_tokens, b.rn,
         CASE WHEN w.fill_out > 0 AND w.fill_out + b.n_tokens > 64
              THEN w.idx_out + 1 ELSE w.idx_out END,
         CASE WHEN w.fill_out > 0 AND w.fill_out + b.n_tokens > 64
              THEN w.idx_out + 1 ELSE w.idx_out END
           + CASE WHEN b.n_tokens >= 64 THEN 1 ELSE 0 END,
         CASE WHEN b.n_tokens >= 64 THEN 0
              WHEN w.fill_out > 0 AND w.fill_out + b.n_tokens > 64
              THEN b.n_tokens
              ELSE w.fill_out + b.n_tokens END
  FROM walk w JOIN seq b ON b.shard = w.shard AND b.rn = w.rn + 1
)
SELECT doc_id, n_tokens, shard,
       shard || '/' || CAST(assigned AS VARCHAR) AS pack_id
FROM walk ORDER BY doc_id
"""


def q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation composite (the LLM-pipeline
    mandate stages chained): Unicode-normalize -> PII-scrub (planted
    deterministic emails/IPs) -> exact dedup (min-id representative) ->
    token-count quality gate (>=5) -> concat-then-chunk sequence
    packing with global offsets. Every stage is the already-oracled
    operator; this gate pins their COMPOSITION."""
    from syslog_ng_spark.operators.dedup import exact_dedup
    from syslog_ng_spark.operators.normalize import normalize_text
    from syslog_ng_spark.operators.packing import pack_chunked
    from syslog_ng_spark.operators.pii import pii_scrub
    from syslog_ng_spark.operators.textstats import token_count

    # plant exact-duplicate boilerplate (1 in 7 docs collapse into 4
    # groups — the corpus itself has no byte-dups at small SF) and
    # deterministic PII into the rest
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.pmod("doc_id", F.lit(7)) == 1,
            F.format_string(
                "duplicate boilerplate block %d end",
                F.pmod("doc_id", F.lit(4)),
            ),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            (F.pmod("doc_id", F.lit(3)) == 0)
            & (F.pmod("doc_id", F.lit(7)) != 1),
            F.concat(
                F.col("text"),
                F.format_string(
                    " contact u%d@example.com from 10.%d.0.9",
                    F.pmod("doc_id", F.lit(50)),
                    F.pmod("doc_id", F.lit(256)),
                ),
            ),
        ).otherwise(F.col("text")),
    )
    out = normalize_text(docs, "text")
    out = pii_scrub(out, "text", kinds=("email", "ipv4"))
    out = exact_dedup(out)
    # persist the gated frame: pack_chunked scans its input 3× (lo/hi
    # bounds, per-bucket totals, the cumsum itself) and each scan would
    # re-evaluate the whole normalize→scrub→dedup chain (Arrow NFC UDF
    # + regex passes + a semi-join) — HOF/UDF chains get no CSE
    from syslog_ng_spark.operators.dedup import _unpersist_on_gc

    out = out.withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    ).filter(F.col("n_tokens") >= 5).persist()
    packed = pack_chunked(out, budget=2048)
    res = packed.select(
        "doc_id", "text", "n_tokens", "start_off",
        F.col("pack_first").alias("pack_id"),
    ).orderBy("doc_id")
    _unpersist_on_gc(res, out)
    return res


_CURATION_SQL = """
WITH duped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1
              THEN printf('duplicate boilerplate block %d end', doc_id % 4)
              ELSE text END AS text
  FROM documents
), planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 AND doc_id % 7 <> 1
              THEN text || printf(' contact u%d@example.com from 10.%d.0.9',
                                  doc_id % 50, doc_id % 256)
              ELSE text END AS text
  FROM duped
), normalized AS (
  SELECT doc_id,
         trim(regexp_replace(
           nfc_normalize(regexp_replace(text,
             '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')),
           '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS text
  FROM planted
), scrubbed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS text
  FROM normalized
), dedup AS (
  SELECT min(doc_id) AS keep_id
  FROM scrubbed
  GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
), kept AS (
  SELECT s.doc_id, s.text,
         CASE WHEN trim(s.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(s.text), '\\s+')) END
           AS n_tokens
  FROM scrubbed s JOIN dedup d ON s.doc_id = d.keep_id
), q AS (
  SELECT * FROM kept WHERE n_tokens >= 5
), offs AS (
  SELECT doc_id, text, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM q
)
SELECT doc_id, text, n_tokens, start_off,
       CAST(floor(start_off / 2048.0) AS BIGINT) AS pack_id
FROM offs ORDER BY doc_id
"""


def q_xml_parse(spark, sf_dir):
    """xml-parser (modules/xml/xml.c) inverse-property gate: XML event
    docs formatted FROM events columns (attribute + nested text +
    repeated <v> tags exercising the create-lists encoder), parsed
    back; DuckDB recomputes every field from the source columns."""
    from syslog_ng_spark.operators.parsers import xml_parser

    ev = _t(spark, sf_dir, "events").filter(
        F.pmod("event_id", F.lit(5)) == 0
    )
    line = F.format_string(
        '<event id="%d"><type>%s</type><user>u%d</user>'
        "<v>%d</v><v>tag %d</v></event>",
        F.col("event_id"),
        F.col("event_type"),
        F.col("user_id"),
        F.pmod("event_id", F.lit(97)),
        F.pmod("user_id", F.lit(7)),
    )
    parsed = xml_parser(ev.withColumn("text", line))
    x = F.col("xml")
    return parsed.select(
        "event_id",
        F.element_at(x, ".xml.event._id").alias("attr_id"),
        F.element_at(x, ".xml.event.type").alias("etype"),
        F.element_at(x, ".xml.event.user").alias("euser"),
        F.element_at(x, ".xml.event.v").alias("vlist"),
    ).orderBy("event_id")


_XML_SQL = """
SELECT event_id,
       CAST(event_id AS VARCHAR) AS attr_id,
       event_type AS etype,
       'u' || user_id AS euser,
       (event_id % 97) || ',"tag ' || (user_id % 7) || '"' AS vlist
FROM events
WHERE event_id % 5 = 0
ORDER BY event_id
"""


def q_mix_sources(spark, sf_dir):
    """Deterministic training-data domain mixing (LLM-pipeline):
    per-source up/down-sampling with an md5-bucket coin — src0 dropped,
    src1 kept at 35%, src2 doubled, src3 at 2.5x with copy numbering,
    everything else at weight 1. Zero-shuffle: one CASE projection +
    explode (operators/sampling.py)."""
    from syslog_ng_spark.operators.sampling import mix_sources

    docs = _t(spark, sf_dir, "documents")
    out = mix_sources(
        docs, {"src0": 0.0, "src1": 0.35, "src2": 2.0, "src3": 2.5}
    )
    return out.select("doc_id", "source", "copy_idx").orderBy(
        "doc_id", "copy_idx"
    )


_MIX_SQL = """
WITH b AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           % 10000 AS bkt
  FROM documents
), c AS (
  SELECT doc_id, source,
         CASE source
           WHEN 'src0' THEN 0
           WHEN 'src1' THEN CASE WHEN bkt < 3500 THEN 1 ELSE 0 END
           WHEN 'src2' THEN 2
           WHEN 'src3' THEN 2 + CASE WHEN bkt < 5000 THEN 1 ELSE 0 END
           ELSE 1
         END AS copies
  FROM b
)
SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS copy_idx
FROM c
WHERE copies > 0
ORDER BY doc_id, copy_idx
"""


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + shard export (LLM-pipeline):
    md5-keyed permutation of the corpus into 8 shards with 1-based
    in-shard positions — reproducible run-to-run, salt = epoch. One
    hash exchange + in-partition sort (operators/sampling.py)."""
    from syslog_ng_spark.operators.sampling import shuffle_shards

    docs = _t(spark, sf_dir, "documents")
    out = shuffle_shards(docs, n_shards=8, salt="ep1:")
    return out.select("doc_id", "shard", "pos").orderBy("doc_id")


_SHUFFLE_SQL = """
WITH k AS (
  SELECT doc_id, md5('ep1:' || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents
), s AS (
  SELECT doc_id, skey,
         CAST(CAST(('0x' || substr(skey, 1, 8)) AS UBIGINT) % 8 AS BIGINT)
           AS shard
  FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
            AS BIGINT) AS pos
FROM s
ORDER BY doc_id
"""


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality scoring (LLM-pipeline): corpus unigram counts
    (word-count aggregate) then per-document mean ln p(token) — the
    CCNet-style rank-by-typicality signal. Exact mode: token-keyed
    shuffle join; the 100-TB path is vocab_limit + broadcast
    (operators/quality.py)."""
    from syslog_ng_spark.operators.quality import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs).orderBy("doc_id")


_UNIGRAM_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), t2 AS (
  SELECT doc_id, tok FROM t WHERE tok <> ''
), v AS (
  SELECT tok, count(*) AS c FROM t2 GROUP BY tok
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS s FROM v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(c / s)), 6) AS logprob
FROM t2 JOIN v USING (tok) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


def q_unigram_logprob_topk(spark, sf_dir):
    """Unigram-LM scoring, vocab_limit (broadcast) mode — the 100-TB
    plan: keep the top-64 vocabulary (count desc, token asc tiebreak),
    BROADCAST it, score out-of-vocabulary tokens at the 1/total floor.
    No token-keyed shuffle join on the corpus side (plan-asserted in
    tests/test_plan_quality.py); total stays the FULL corpus count so
    p() is a true probability (operators/quality.py)."""
    from syslog_ng_spark.operators.quality import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs, vocab_limit=64).orderBy("doc_id")


_UNIGRAM_TOPK_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), t2 AS (
  SELECT doc_id, tok FROM t WHERE tok <> ''
), v AS (
  SELECT tok, count(*) AS c FROM t2 GROUP BY tok
), tot AS (
  SELECT CAST(sum(c) AS DOUBLE) AS s FROM v
), vk AS (
  SELECT tok, c FROM v ORDER BY c DESC, tok LIMIT 64
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(coalesce(vk.c, 1) / tot.s)), 6) AS logprob
FROM t2 LEFT JOIN vk USING (tok) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


def q_line_dedup(spark, sf_dir):
    """Cross-document boilerplate line removal (LLM-pipeline): plant a
    3-way rotating header + a universal footer around every document,
    then strip every line shared by >= 2 docs (>= 5 chars); unique
    middles survive with order preserved (operators/dedup.line_dedup,
    byte-exact hash_lines=False mode for the oracle)."""
    from syslog_ng_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.lit("HDR-"),
            F.pmod("doc_id", F.lit(3)).cast("string"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\nFOOTER-COMMON"),
        ),
    )
    out = line_dedup(
        docs, min_docs=2, min_line_chars=5, hash_lines=False, target="clean"
    )
    return out.select("doc_id", "clean").orderBy("doc_id")


_LINE_DEDUP_SQL = """
WITH planted AS (
  SELECT doc_id,
         'HDR-' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || text ||
           chr(10) || 'FOOTER-COMMON' AS text
  FROM documents
), l AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM planted
), b AS (
  SELECT line
  FROM (SELECT DISTINCT doc_id, line FROM l WHERE len(line) >= 5)
  GROUP BY line
  HAVING count(*) >= 2
), r AS (
  SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS clean
  FROM l LEFT JOIN b ON l.line = b.line
  WHERE b.line IS NULL
  GROUP BY l.doc_id
)
SELECT p.doc_id, coalesce(r.clean, '') AS clean
FROM planted p LEFT JOIN r USING (doc_id)
ORDER BY p.doc_id
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (§LLM-pipeline, Xie et al. 2023):
    fit hashed-bigram bag models on a target slice (every 7th document)
    and the raw remainder, score raw docs by the summed per-bucket log
    importance ratio, select k=100 by deterministic Gumbel top-k. All
    hashes are md5-prefix buckets so DuckDB reproduces the exact
    selection (operators/dsir.py)."""
    from syslog_ng_spark.operators.dsir import dsir_fit, dsir_resample

    docs = _t(spark, sf_dir, "documents", wide=True)
    tgt = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    ratios = dsir_fit(tgt, raw)
    out = dsir_resample(raw, ratios, k=100)
    return out.select("doc_id", "logw").orderBy("doc_id")


_DSIR_SQL = """
WITH tgt AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
), raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
), tok_t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM tgt
), tok_r AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM raw
), feat_t AS (
  SELECT doc_id, unnest(tk) AS g FROM tok_t
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM tok_t WHERE len(tk) >= 2
), feat_r AS (
  SELECT doc_id, unnest(tk) AS g FROM tok_r
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS g
  FROM tok_r WHERE len(tk) >= 2
), bf_t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 10000 AS b
  FROM feat_t
), bf_r AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 10000 AS b
  FROM feat_r
), ct AS (
  SELECT b, count(*) AS c FROM bf_t GROUP BY b
), cr AS (
  SELECT b, count(*) AS c FROM bf_r GROUP BY b
), tt AS ( SELECT sum(c) AS s FROM ct
), rt AS ( SELECT sum(c) AS s FROM cr
), ratio AS (
  SELECT coalesce(ct.b, cr.b) AS b,
         ln((coalesce(ct.c, 0) + 1) / CAST(tt.s + 10000 AS DOUBLE))
         - ln((coalesce(cr.c, 0) + 1) / CAST(rt.s + 10000 AS DOUBLE))
           AS log_ratio
  FROM ct FULL JOIN cr ON ct.b = cr.b CROSS JOIN tt CROSS JOIN rt
), w AS (
  SELECT doc_id, round(sum(coalesce(log_ratio, 0.0)), 6) AS logw
  FROM bf_r LEFT JOIN ratio ON bf_r.b = ratio.b
  GROUP BY doc_id
), keyed AS (
  SELECT doc_id, logw,
         round(logw + (-ln(-ln(
           ((CAST(('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 1048576) + 0.5) / 1048576.0
         ))), 6) AS gk
  FROM w
), picked AS (
  SELECT doc_id, logw FROM keyed ORDER BY gk DESC, doc_id LIMIT 100
)
SELECT doc_id, logw FROM picked ORDER BY doc_id
"""


def q_bm25_search(spark, sf_dir):
    """BM25 ranked keyword retrieval (§LLM-pipeline): top-10 documents
    per query for three keyword queries, Lucene-variant idf, k1=1.2
    b=0.75. Query terms broadcast; only matching term occurrences ever
    reach a shuffle (operators/bm25.py)."""
    from syslog_ng_spark.operators.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [
            (1, "spark window join"),
            (2, "hash merge sort"),
            (3, "customer query filter"),
        ],
        "query_id long, query_text string",
    )
    return bm25_topk(docs, qs, k=10).orderBy("query_id", "rank")


_BM25_SQL = """
WITH q(query_id, query_text) AS (
  VALUES (CAST(1 AS BIGINT), 'spark window join'),
         (CAST(2 AS BIGINT), 'hash merge sort'),
         (CAST(3 AS BIGINT), 'customer query filter')
), tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), dl AS (
  SELECT doc_id, len(tk) AS dl FROM tok
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split(lower(query_text), ' '),
                            t -> t <> '')) AS term
  FROM q
), terms AS (
  SELECT DISTINCT term FROM qt
), occ AS (
  SELECT doc_id, unnest(tk) AS term FROM tok
), tf AS (
  SELECT o.doc_id, o.term, count(*) AS tf
  FROM occ o JOIN terms USING (term)
  GROUP BY o.doc_id, o.term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum(
           ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  JOIN qt USING (term)
  CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval (§LLM-pipeline): BM25 candidate generation
    (k_lex=50) then exact cosine rerank against a query embedding —
    the classic lexical+dense two-stage search. Candidates broadcast
    into the embeddings probe; the corpus never shuffles
    (operators/bm25.hybrid_topk)."""
    from syslog_ng_spark.operators.bm25 import hybrid_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qs = spark.createDataFrame(
        [(1, "spark window join"), (2, "hash merge sort")],
        "query_id long, query_text string",
    )
    qvecs = emb.filter(F.col("vec_id").isin(0, 1)).select(
        (F.col("vec_id") + 1).alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    out = hybrid_topk(docs, qs, emb, qvecs, k=10, k_lex=50)
    return out.orderBy("query_id", "rank")


_HYBRID_SQL = """
WITH q(query_id, query_text) AS (
  VALUES (CAST(1 AS BIGINT), 'spark window join'),
         (CAST(2 AS BIGINT), 'hash merge sort')
), tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
  FROM documents
), dl AS (
  SELECT doc_id, len(tk) AS dl FROM tok
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split(lower(query_text), ' '),
                            t -> t <> '')) AS term
  FROM q
), terms AS (
  SELECT DISTINCT term FROM qt
), occ AS (
  SELECT doc_id, unnest(tk) AS term FROM tok
), tf AS (
  SELECT o.doc_id, o.term, count(*) AS tf
  FROM occ o JOIN terms USING (term)
  GROUP BY o.doc_id, o.term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum(
           ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * (1.2 + 1)
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         ), 6) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  JOIN qt USING (term)
  CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
), cand AS (
  SELECT query_id, doc_id, score AS bm25 FROM ranked WHERE rank <= 50
), qv AS (
  SELECT vec_id + 1 AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id IN (0, 1)
), rr AS (
  SELECT c.query_id, c.doc_id, c.bm25,
         round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6)
           AS cos
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.doc_id
  JOIN qv USING (query_id)
), rr2 AS (
  SELECT query_id, doc_id, bm25, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id) AS rank
  FROM rr
)
SELECT query_id, doc_id, bm25, cos, CAST(rank AS INT) AS rank
FROM rr2 WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_scl_pgsql(spark, sf_dir):
    """SCL postgresql-csvlog preset (scl/pgsql/pgsql.conf), inverse
    property: 26-column csvlog lines formatted from orders columns —
    including a quoted message with an embedded '""'-escaped quote and
    a comma, and a rotating severity exercising the conf's shifted
    mapping — parsed back; the oracle recomputes every field from the
    source columns directly."""
    from syslog_ng_spark.operators.scl import postgresql_csvlog_parser

    o = _t(spark, sf_dir, "orders").filter(F.pmod("o_orderkey", F.lit(5)) == 0)
    ts = F.concat(
        F.date_format(
            F.col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSS"
        ),
        F.lit(" UTC"),
    )
    sevs = ["LOG", "WARNING", "ERROR", "PANIC", "DEBUG2", "INFO"]
    sev = F.element_at(
        F.array(*[F.lit(s) for s in sevs]),
        (F.pmod("o_orderkey", F.lit(6)) + 1).cast("int"),
    )
    msg_quoted = F.concat(
        F.lit('"cust ""'),
        F.col("o_custkey").cast("string"),
        F.lit('"", status ,'),
        F.col("o_orderstatus"),
        F.lit('"'),
    )
    line = F.concat_ws(
        ",",
        ts,
        F.concat(F.lit("u"), F.pmod("o_custkey", F.lit(100)).cast("string")),
        F.lit("appdb"),
        F.pmod("o_orderkey", F.lit(65536)).cast("string"),
        F.lit('"10.0.0.1:5432"'),
        F.lit("sess1"),
        F.lit("7"),
        F.lit("SELECT"),
        ts,
        F.lit("23/74060"),
        F.lit("0"),
        sev,
        F.lit("00000"),
        msg_quoted,
        F.lit(""), F.lit(""), F.lit(""), F.lit(""), F.lit(""), F.lit(""),
        F.lit(""), F.lit(""),
        F.lit('"app"'),
        F.lit('"client backend"'),
        F.lit(""),
        F.pmod("o_orderkey", F.lit(1000000)).cast("string"),
    )
    parsed = postgresql_csvlog_parser(o.withColumn("text", line))
    return parsed.select(
        "o_orderkey",
        F.col("`.pgsql.username`").alias("username"),
        F.col("`.pgsql.pid`").alias("pid"),
        F.col("`.pgsql.connection_from`").alias("connection_from"),
        F.col("`.pgsql.severity`").alias("severity"),
        "severity_num",
        "msg",
        "pgsql_ts",
        F.col("`.pgsql.query_id`").alias("query_id"),
    ).orderBy("o_orderkey")


_SCL_PGSQL_SQL = """
SELECT o_orderkey,
       'u' || CAST(o_custkey % 100 AS VARCHAR) AS username,
       CAST(o_orderkey % 65536 AS INTEGER) AS pid,
       '10.0.0.1:5432' AS connection_from,
       CASE o_orderkey % 6
         WHEN 0 THEN 'LOG' WHEN 1 THEN 'WARNING' WHEN 2 THEN 'ERROR'
         WHEN 3 THEN 'PANIC' WHEN 4 THEN 'DEBUG2' ELSE 'INFO'
       END AS severity,
       CAST(CASE o_orderkey % 6
         WHEN 0 THEN 6 WHEN 1 THEN 5 WHEN 2 THEN 4
         WHEN 3 THEN 2 WHEN 4 THEN 7 ELSE 6
       END AS INTEGER) AS severity_num,
       'cust "' || CAST(o_custkey AS VARCHAR) || '", status ,'
         || o_orderstatus AS msg,
       CAST(o_orderdate AS TIMESTAMP) AS pgsql_ts,
       CAST(o_orderkey % 1000000 AS INTEGER) AS query_id
FROM orders
WHERE o_orderkey % 5 = 0
ORDER BY o_orderkey
"""


def q_scl_cisco(spark, sf_dir):
    """SCL cisco-parser (scl/cisco/plugin.conf), inverse property:
    '<pri>seq: host: *ts: %FAC-SEV-MNEM: msg' lines formatted from
    events columns (every 4th row uses the 4-token SYSMGR-STANDBY
    facility form), parsed back through the full grammar — seqno strip,
    host/timestamp header branch, triplet split, MSG rewrite. Year-less
    cisco timestamps anchor at 1970 (documented no-receive-clock
    divergence), so 2024's Feb 29 rows parse to NULL in BOTH engines
    (1970 is not a leap year)."""
    from syslog_ng_spark.operators.scl import cisco_parser

    e = _t(spark, sf_dir, "events", wide=True).filter(F.pmod("event_id", F.lit(5)) == 0)
    sev = F.pmod("event_id", F.lit(8))
    fac = F.when(F.pmod("event_id", F.lit(4)) == 0, "SYSMGR-STANDBY").otherwise("SYS")
    line = F.concat(
        F.lit("<"), (F.lit(184) + sev).cast("string"), F.lit(">"),
        F.col("event_id").cast("string"), F.lit(": host-"),
        F.pmod("user_id", F.lit(20)).cast("string"), F.lit(": *"),
        F.date_format("ts", "MMM dd HH:mm:ss"), F.lit(": %"),
        fac, F.lit("-"), sev.cast("string"), F.lit("-"),
        F.upper("event_type"), F.lit(": User "),
        F.col("user_id").cast("string"), F.lit(" did "), F.col("event_type"),
    )
    parsed = cisco_parser(e.withColumn("text", line))
    return parsed.select(
        "event_id",
        "cisco_pri",
        F.col("cisco_host").alias("host"),
        F.col("`.cisco.facility`").alias("facility"),
        F.col("`.cisco.severity`").alias("severity"),
        F.col("`.cisco.severity_num`").alias("severity_num"),
        F.col("`.cisco.mnemonic`").alias("mnemonic"),
        F.col("cisco_ts").alias("stamp"),
        F.col("cisco_msg").alias("msg"),
    ).orderBy("event_id")


_SCL_CISCO_SQL = """
SELECT event_id,
       CAST(184 + event_id % 8 AS INTEGER) AS cisco_pri,
       'host-' || CAST(user_id % 20 AS VARCHAR) AS host,
       CASE WHEN event_id % 4 = 0 THEN 'SYSMGR-STANDBY' ELSE 'SYS' END
         AS facility,
       CAST(event_id % 8 AS VARCHAR) AS severity,
       CAST(event_id % 8 AS INTEGER) AS severity_num,
       upper(event_type) AS mnemonic,
       TRY_CAST('1970-' || strftime(ts, '%m-%d %H:%M:%S') AS TIMESTAMP)
         AS stamp,
       '%' || CASE WHEN event_id % 4 = 0 THEN 'SYSMGR-STANDBY' ELSE 'SYS' END
           || '-' || CAST(event_id % 8 AS VARCHAR) || '-'
           || upper(event_type) || ': User ' || CAST(user_id AS VARCHAR)
           || ' did ' || event_type AS msg
FROM events
WHERE event_id % 5 = 0
ORDER BY event_id
"""


def q_scl_panos(spark, sf_dir):
    """SCL panos-parser (scl/paloalto/panos.conf), inverse property:
    rows rotate through SYSTEM / custom-CONFIG / TRAFFIC branch layouts
    formatted from events columns, parsed back through the per-type
    dispatch (custom CONFIG via the 17-field layout after the
    drop-invalid standard one rejects it; TRAFFIC supplying exactly the
    columns up to device_name — 'the rest is optional'); DuckDB
    recomputes the per-branch fields with a CASE."""
    from syslog_ng_spark.operators.scl import panos_parser

    e = _t(spark, sf_dir, "events").filter(F.pmod("event_id", F.lit(5)) == 0)
    eid = F.col("event_id").cast("string")
    dev = F.concat(F.lit("fw-"), F.pmod("user_id", F.lit(5)).cast("string"))
    z = F.lit("0")
    em = F.lit("")
    head = [F.lit("1"), F.lit("2024/01/01 00:00:00"), F.lit("serial01")]
    sys_tail = [
        em, F.concat(F.lit("ev"), eid), em, z, z, F.lit("general"),
        F.lit("medium"), F.lit("planted message"), eid, F.lit("0x0"),
        z, z, z, z, em, dev,
    ]
    cfg_tail = [
        F.lit("10.0.0.9"), em, F.lit("set"), F.lit("admin"), F.lit("Web"),
        F.lit("Succeeded"), F.lit("deviceconfig system"),
        F.concat(F.lit("b"), eid), F.concat(F.lit("a"), eid), eid,
        F.lit("0x0"), z, z, z, z, em, dev,
    ]
    traffic_tail = [
        F.concat(F.lit("10.1.0."), F.pmod("user_id", F.lit(250)).cast("string")),
        F.concat(F.lit("10.2.0."), F.pmod("event_id", F.lit(250)).cast("string")),
        em, em, F.lit("allow-ssl"), em, em, F.lit("ssl"), F.lit("vsys1"),
        F.lit("trust"), F.lit("untrust"), em, em, em, em, eid, F.lit("1"),
        F.lit("1024"), F.lit("443"), z, z, F.lit("0x0"), F.lit("tcp"),
        F.lit("allow"),
        (F.col("user_id") * 100).cast("string"),
        (F.col("user_id") * 60).cast("string"),
        (F.col("user_id") * 40).cast("string"),
        F.lit("12"), em, em, F.lit("any"), em, eid, F.lit("0x0"), em, em,
        em, F.lit("7"), F.lit("5"), F.lit("tcp-fin"), z, z, z, z, em, dev,
    ]
    mode = F.pmod("event_id", F.lit(3))
    line = (
        F.when(mode == 0, F.concat_ws(",", *head, F.lit("SYSTEM"), F.lit("auth"), z, F.lit("2024/01/01 00:00:00"), *sys_tail))
        .when(mode == 1, F.concat_ws(",", *head, F.lit("CONFIG"), z, z, F.lit("2024/01/01 00:00:00"), *cfg_tail))
        .otherwise(F.concat_ws(",", *head, F.lit("TRAFFIC"), F.lit("end"), z, F.lit("2024/01/01 00:00:00"), *traffic_tail))
    )
    parsed = panos_parser(e.withColumn("text", line))
    return parsed.select(
        "event_id",
        F.col("`.panos.type`").alias("ptype"),
        F.col("`.panos.matched`").alias("matched"),
        "program",
        F.col("`.panos.device_name`").alias("device_name"),
        F.col("`.panos.eventid`").alias("sys_eventid"),
        F.col("`.panos.path`").alias("cfg_path"),
        F.col("`.panos.before_change_detail`").alias("cfg_before"),
        F.col("`.panos.src`").alias("t_src"),
        F.col("`.panos.dst`").alias("t_dst"),
        F.col("`.panos.bytes`").alias("t_bytes"),
        F.col("`.panos.session_end_reason`").alias("t_end"),
    ).orderBy("event_id")


_SCL_PANOS_SQL = """
SELECT event_id,
       CASE event_id % 3 WHEN 0 THEN 'SYSTEM' WHEN 1 THEN 'CONFIG'
            ELSE 'TRAFFIC' END AS ptype,
       TRUE AS matched,
       'paloalto_panos' AS program,
       'fw-' || CAST(user_id % 5 AS VARCHAR) AS device_name,
       CASE WHEN event_id % 3 = 0
            THEN 'ev' || CAST(event_id AS VARCHAR) END AS sys_eventid,
       CASE WHEN event_id % 3 = 1 THEN 'deviceconfig system' END AS cfg_path,
       CASE WHEN event_id % 3 = 1
            THEN 'b' || CAST(event_id AS VARCHAR) END AS cfg_before,
       CASE WHEN event_id % 3 = 2
            THEN '10.1.0.' || CAST(user_id % 250 AS VARCHAR) END AS t_src,
       CASE WHEN event_id % 3 = 2
            THEN '10.2.0.' || CAST(event_id % 250 AS VARCHAR) END AS t_dst,
       CASE WHEN event_id % 3 = 2
            THEN CAST(user_id * 100 AS VARCHAR) END AS t_bytes,
       CASE WHEN event_id % 3 = 2 THEN 'tcp-fin' END AS t_end
FROM events
WHERE event_id % 5 = 0
ORDER BY event_id
"""


def _planted_urls(docs):
    """Deterministic messy-URL construction from doc_id, mirrored
    verbatim in the DuckDB oracles (_URL_SQL/_DOMAIN_STATS_SQL): mixed
    scheme case, 0-2 subdomain labels with mixed case, single- and
    multi-label public suffixes, default/explicit/non-default ports,
    optional userinfo, query strings and fragments."""
    d = F.col("doc_id")
    sub = (
        F.when(d % 5 == 0, "")
        .when(d % 5 == 1, "www.")
        .when(d % 5 == 2, "CDN.")
        .when(d % 5 == 3, "a.b.")
        .otherwise("Img.")
    )
    dom = (
        F.when(d % 7 == 0, "example")
        .when(d % 7 == 1, "wiki")
        .when(d % 7 == 2, "github")
        .when(d % 7 == 3, "Archive")
        .when(d % 7 == 4, "news")
        .when(d % 7 == 5, "data")
        .otherwise("blog")
    )
    suf = (
        F.when(d % 6 == 0, "com")
        .when(d % 6 == 1, "org")
        .when(d % 6 == 2, "co.uk")
        .when(d % 6 == 3, "io")
        .when(d % 6 == 4, "com.au")
        .otherwise("net")
    )
    scheme = (
        F.when(d % 3 == 0, "HTTP").when(d % 3 == 1, "https").otherwise("Http")
    )
    port = (
        F.when(d % 4 == 0, "")
        .when(d % 4 == 1, ":443")
        .when(d % 4 == 2, ":8080")
        .otherwise(":80")
    )
    user = F.when(d % 10 == 0, "u:p@").otherwise("")
    path = F.concat(F.lit("/p/"), (d % 50).cast("string"))
    qs = (
        F.when(d % 3 == 0, "")
        .when(d % 3 == 1, F.concat(F.lit("?q="), (d % 9).cast("string")))
        .otherwise("?a=1&b=2")
    )
    frag = F.when(d % 2 == 0, "").otherwise("#sec")
    url = F.concat(
        scheme, F.lit("://"), user, sub, dom, F.lit("."), suf, port, path,
        qs, frag,
    )
    return docs.withColumn("url", url)


_URL_BLOCKLIST = ["example.com", "blog.co.uk", "news.net"]


def q_url_curation(spark, sf_dir):
    """Web-curation URL primitives (SS-LLM-pipeline): plant messy URLs
    (mixed case, userinfo, default/explicit ports, fragments, single-
    and multi-label public suffixes), then parse + blocklist-flag +
    normalize + extract the registrable domain. Inverse-property
    oracle: DuckDB never parses — it predicts every field from the
    known construction (operators/weburl.py; zero-shuffle projection)."""
    from syslog_ng_spark.operators.weburl import (
        filter_blocked_domains,
        normalize_url,
        registrable_domain,
    )

    docs = _planted_urls(_t(spark, sf_dir, "documents"))
    parsed = filter_blocked_domains(
        docs, _URL_BLOCKLIST, url_col="url", keep_flag="kept"
    )
    parsed = normalize_url(parsed, url_col="url", parsed=True)
    return parsed.select(
        "doc_id",
        "url_scheme",
        "url_host",
        # string, not nullable int: pandas would widen the oracle side
        # to float64 and the i:/f: type tags would mismatch
        F.col("url_port").cast("string").alias("url_port"),
        "url_path",
        "url_query",
        registrable_domain(F.col("url_host")).alias("etld1"),
        "url_norm",
        "kept",
    ).orderBy("doc_id")


_URL_PARTS_SQL = """
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
              ELSE 'Http' END AS scheme_raw,
         CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN 'www.'
              WHEN 2 THEN 'CDN.' WHEN 3 THEN 'a.b.' ELSE 'Img.' END AS sub,
         CASE doc_id % 7 WHEN 0 THEN 'example' WHEN 1 THEN 'wiki'
              WHEN 2 THEN 'github' WHEN 3 THEN 'Archive' WHEN 4 THEN 'news'
              WHEN 5 THEN 'data' ELSE 'blog' END AS dom,
         CASE doc_id % 6 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
              WHEN 2 THEN 'co.uk' WHEN 3 THEN 'io' WHEN 4 THEN 'com.au'
              ELSE 'net' END AS suf,
         CASE doc_id % 4 WHEN 0 THEN NULL WHEN 1 THEN 443
              WHEN 2 THEN 8080 ELSE 80 END AS port_num,
         '/p/' || CAST(doc_id % 50 AS VARCHAR) AS path,
         CASE doc_id % 3 WHEN 0 THEN NULL
              WHEN 1 THEN 'q=' || CAST(doc_id % 9 AS VARCHAR)
              ELSE 'a=1&b=2' END AS query,
         n_chars
  FROM documents
"""

_URL_SQL = (
    """
WITH parts AS ("""
    + _URL_PARTS_SQL
    + """
), derived AS (
  SELECT doc_id,
         lower(scheme_raw) AS url_scheme,
         lower(sub || dom || '.' || suf) AS url_host,
         CAST(port_num AS VARCHAR) AS url_port,
         path AS url_path,
         query AS url_query,
         -- eTLD+1 is dom.suf for BOTH suffix kinds: multi-label
         -- suffixes take the last 3 labels, single the last 2
         lower(dom || '.' || suf) AS etld1,
         lower(scheme_raw) || '://' || lower(sub || dom || '.' || suf)
           || CASE WHEN port_num IS NULL THEN ''
                   WHEN lower(scheme_raw) = 'http'  AND port_num = 80  THEN ''
                   WHEN lower(scheme_raw) = 'https' AND port_num = 443 THEN ''
                   ELSE ':' || CAST(port_num AS VARCHAR) END
           || path
           || CASE WHEN query IS NULL THEN '' ELSE '?' || query END
           AS url_norm
  FROM parts
)
SELECT doc_id, url_scheme, url_host, url_port, url_path, url_query, etld1,
       url_norm,
       etld1 NOT IN ('example.com', 'blog.co.uk', 'news.net') AS kept
FROM derived ORDER BY doc_id
"""
)


def q_domain_stats(spark, sf_dir):
    """Per-registrable-domain corpus stats (the aggregation every
    domain cap/quota policy rides on): ONE hash exchange with map-side
    partial agg. Same planted-URL corpus as url_curation."""
    from syslog_ng_spark.operators.weburl import domain_stats

    docs = _planted_urls(_t(spark, sf_dir, "documents"))
    return (
        domain_stats(docs, url_col="url", weight_col="n_chars")
        .orderBy("domain")
    )


_DOMAIN_STATS_SQL = (
    """
WITH parts AS ("""
    + _URL_PARTS_SQL
    + """
), derived AS (
  SELECT doc_id, n_chars,
         lower(sub || dom || '.' || suf) AS host,
         lower(dom || '.' || suf) AS domain
  FROM parts
)
SELECT domain,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT host) AS n_hosts,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
FROM derived GROUP BY domain ORDER BY domain
"""
)


def q_length_stats(spark, sf_dir):
    """Per-group distribution stats (SS-LLM-pipeline): exact
    interpolated percentiles + count/mean/min/max of document length
    per language — the 'drop the bottom X%' curation primitive. ONE
    partial-agg exchange; all five quantiles share one aggregate
    buffer (operators/percentiles.py; approx sketch mode is the
    100-TB path, pinned by a rank-error test)."""
    from syslog_ng_spark.operators.percentiles import group_percentiles

    docs = _t(spark, sf_dir, "documents")
    return group_percentiles(
        docs, "n_chars", ["lang"], percentiles=(0.25, 0.5, 0.75, 0.9, 0.99)
    ).orderBy("lang")


_LENGTH_STATS_SQL = """
SELECT lang,
       COUNT(n_chars) AS n,
       CAST(AVG(n_chars) AS DOUBLE) AS mean,
       MIN(n_chars) AS min,
       MAX(n_chars) AS max,
       quantile_cont(n_chars, 0.25) AS p25,
       quantile_cont(n_chars, 0.5)  AS p50,
       quantile_cont(n_chars, 0.75) AS p75,
       quantile_cont(n_chars, 0.9)  AS p90,
       quantile_cont(n_chars, 0.99) AS p99
FROM documents GROUP BY lang ORDER BY lang
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic exactly-k-per-stratum sampling (SS-LLM-pipeline):
    keep the 15 docs per language with the smallest md5(doc_id) — a
    pure function of the id, so the SELECTION (not just the rate) is
    reproducible. Runs WITH the count-prefilter + underfill-audit
    machinery enabled (operators/sampling.py): the oracle proves the
    scale path returns byte-identical rows to the plain window rank."""
    from syslog_ng_spark.operators.sampling import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample_exact(
        docs, 15, strata_col="lang", id_col="doc_id", rank_col="rank"
    )
    return out.select("doc_id", "lang", "rank").orderBy("doc_id")


_STRATIFIED_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
SELECT doc_id, lang, rank FROM ranked WHERE rank <= 15 ORDER BY doc_id
"""


def q_html_strip(spark, sf_dir):
    """HTML text extraction (SS-LLM-pipeline): wrap every document in
    deterministic markup (script/style bodies, comments, attributes,
    entities), then strip back to visible text with the pure-Column
    chain (operators/normalize.py strip_html). The DuckDB oracle
    replays the identical regex chain — only Java/RE2-common
    constructs appear in it by contract."""
    from syslog_ng_spark.operators.normalize import strip_html

    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var x = "'),
        (d % 7).cast("string"),
        F.lit('</p>";</script><style>p { color: red; }</style></head>'),
        F.lit("<body><!-- hidden <b>"),
        (d % 5).cast("string"),
        F.lit("</b> --><h1>T"),
        d.cast("string"),
        F.lit('</h1><p class="c">'),
        F.substring("text", 1, 60),
        F.lit(" &amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;</p><br/>tail</body></html>"),
    )
    docs = _t(spark, sf_dir, "documents").withColumn("text", html)
    return strip_html(docs, target="extracted").select(
        "doc_id", "extracted"
    ).orderBy("doc_id")


_HTML_STRIP_SQL = """
WITH planted AS (
  SELECT doc_id,
         '<html><head><script type="text/javascript">var x = "'
         || CAST(doc_id % 7 AS VARCHAR)
         || '</p>";</script><style>p { color: red; }</style></head>'
         || '<body><!-- hidden <b>' || CAST(doc_id % 5 AS VARCHAR)
         || '</b> --><h1>T' || CAST(doc_id AS VARCHAR)
         || '</h1><p class="c">' || substring(text, 1, 60)
         || ' &amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;</p><br/>tail</body></html>'
         AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>',
               ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '(?s)<[^>]*>', ' ', 'g') AS t
  FROM planted
), decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(replace(
           t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
           '&#39;', ''''), '&#34;', '"'), '&nbsp;', ' '), '&amp;', '&') AS t
  FROM stripped
)
SELECT doc_id,
       trim(regexp_replace(t, '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS extracted
FROM decoded ORDER BY doc_id
"""


def q_winnow_fps(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints over documents: k-gram
    md5 hashes, sliding-window minima, distinct set per doc. Spark runs
    the pandas engine (zero-shuffle per-row kernel); the oracle replays
    the sql engine's plan in DuckDB — so this gate proves
    kernel == window-SQL across engines AND processes."""
    from syslog_ng_spark.operators.winnow import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, window=4, engine="pandas").orderBy(
        "doc_id", "fp"
    )


_WINNOW_FPS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 5
              THEN list_transform(range(1, len(tk)-5+2),
                   i -> substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16))
              WHEN len(tk) >= 1
              THEN [substr(md5(array_to_string(tk, ' ')), 1, 16)]
              ELSE [] END AS gs
  FROM toks
), g AS (
  SELECT doc_id, len(gs) AS g_cnt,
         unnest(gs) AS h,
         unnest(range(1, len(gs)+1)) AS pos
  FROM grams
), w AS (
  SELECT doc_id, pos, g_cnt,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM w
WHERE pos <= greatest(g_cnt - 3, 1)
ORDER BY doc_id, fp
"""


def q_winnow_neardup(spark, sf_dir):
    """MOSS-style near-dup pairs: Jaccard over winnow fingerprint sets.
    Unlike minhash banding, candidate recall here is EXACT (any pair with
    a shared fingerprint co-occurs in that fingerprint's bucket), so the
    oracle is the plain all-pairs set Jaccard with no recall argument —
    only the skew cap could diverge, and at gate scale no bucket nears
    it."""
    from syslog_ng_spark.operators.winnow import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=5, window=4, threshold=0.3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


_WINNOW_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 5
              THEN list_transform(range(1, len(tk)-5+2),
                   i -> substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16))
              WHEN len(tk) >= 1
              THEN [substr(md5(array_to_string(tk, ' ')), 1, 16)]
              ELSE [] END AS gs
  FROM toks
), g AS (
  SELECT doc_id, len(gs) AS g_cnt,
         unnest(gs) AS h,
         unnest(range(1, len(gs)+1)) AS pos
  FROM grams
), w AS (
  SELECT doc_id, pos, g_cnt,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM w
  WHERE pos <= greatest(g_cnt - 3, 1)
), sets AS (
  SELECT doc_id, list_sort(list(fp)) AS s FROM fps GROUP BY doc_id
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s))::DOUBLE
           / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE AS j
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.3
ORDER BY id_a, id_b
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher repetition-free quality rules (Rae et al. 2021 §A1.1, the
    published thresholds) over documents with deterministic planted
    structure — bullet lines, ellipsis lines, '#' runs, numeric words
    keyed on doc_id — so every rule fires both ways. The oracle replays
    the identical pure-Column signal chain in DuckDB."""
    from syslog_ng_spark.operators.quality import gopher_rules

    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(d % 5 == 0, "\n- bullet one\n- planted two\n- planted three").otherwise(""),
        F.when(d % 7 == 0, "\ntrailing thought...\nmore to come...").otherwise(""),
        F.when(d % 4 == 0, " ### ## #####").otherwise(""),
        F.when(d % 6 == 0, " 101 202 303 404 505 606 707 808").otherwise(""),
    )
    docs = _t(spark, sf_dir, "documents", wide=True).withColumn("text", planted)
    out = gopher_rules(docs, min_mean_word_len=4.0, max_bullet_line_frac=0.5)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        F.col("stop_hits").cast("long").alias("stop_hits"),
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords", "gopher_keep",
    ).orderBy("doc_id")


_GOPHER_SQL = """
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10)||'- bullet one'||chr(10)||'- planted two'||chr(10)||'- planted three'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10)||'trailing thought...'||chr(10)||'more to come...'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' ### ## #####' ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN ' 101 202 303 404 505 606 707 808' ELSE '' END
         AS text
  FROM documents
), sig AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w,
         string_split(text, chr(10)) AS l
  FROM planted
), agg AS (
  SELECT doc_id,
         len(w) AS n_words,
         CASE WHEN len(w) > 0 THEN len(w) ELSE 1 END AS safe_w,
         CASE WHEN len(l) > 0 THEN len(l) ELSE 1 END AS safe_l,
         CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) AS wl_sum,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ell,
         len(list_filter(l, x -> regexp_matches(ltrim(x), '^[-*•]'))) AS n_bullet,
         len(list_filter(l, x -> regexp_matches(rtrim(x), '\\.\\.\\.$'))) AS n_ell_line,
         len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(list_transform(w, x -> lower(x)), s))) AS stop_hits
  FROM sig
), r AS (
  SELECT doc_id, n_words,
         round(coalesce(wl_sum, 0.0) / safe_w, 4) AS mean_word_len,
         stop_hits,
         n_words >= 50 AND n_words <= 100000 AS r_word_count,
         coalesce(wl_sum, 0.0) / safe_w >= 4.0
           AND coalesce(wl_sum, 0.0) / safe_w <= 10.0 AS r_mean_word_len,
         (n_hash + n_ell) / CAST(safe_w AS DOUBLE) <= 0.1 AS r_symbol_ratio,
         n_bullet / CAST(safe_l AS DOUBLE) <= 0.5 AS r_bullet_lines,
         n_ell_line / CAST(safe_l AS DOUBLE) <= 0.3 AS r_ellipsis_lines,
         n_alpha / CAST(safe_w AS DOUBLE) >= 0.8 AS r_alpha_words,
         stop_hits >= 2 AS r_stopwords
  FROM agg
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
       r_ellipsis_lines, r_alpha_words, r_stopwords,
       r_word_count AND r_mean_word_len AND r_symbol_ratio
         AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
         AND r_stopwords AS gopher_keep
FROM r ORDER BY doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Score-policy cluster dedup: minhash near-dup clusters, keep the
    LONGEST document per cluster (argmax n_chars, min-id tie-break)
    instead of the arbitrary min id. Oracle: the recursive-CTE closure
    over exact all-pairs Jaccard >= 0.5 + row_number ranking."""
    from syslog_ng_spark.operators.dedup import dedup_keep_best, minhash_lsh

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh(docs, threshold=0.5)
    out = dedup_keep_best(docs, pairs, score_col="n_chars")
    return out.select(
        "doc_id", "component", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


_DEDUP_KEEP_BEST_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3
              THEN list_distinct(list_transform(range(1, len(tk)-1),
                                 i -> array_to_string(tk[i:i+2], ' ')))
              ELSE [array_to_string(tk, ' ')] END AS sh
  FROM toks
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
), alldocs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY n_chars DESC, doc_id) AS rn
  FROM alldocs
)
SELECT doc_id, component, CAST(n_chars AS BIGINT) AS n_chars
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def q_web_curation(spark, sf_dir):
    """END-TO-END web curation composite chaining the round-6 ops:
    planted HTML → strip_html → Gopher rule gate → winnow near-dup
    pairs → score-policy cluster dedup (keep the longest copy). The
    oracle replays every stage in one DuckDB query assembled from the
    stage oracles that are each already proven gate-green — the
    composite asserts the stages COMPOSE (column contracts, null
    behavior, ordering) rather than re-proving each one."""
    from syslog_ng_spark.operators.dedup import dedup_keep_best
    from syslog_ng_spark.operators.normalize import strip_html
    from syslog_ng_spark.operators.quality import gopher_rules
    from syslog_ng_spark.operators.winnow import winnow_pairs

    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><!-- c"),
        (d % 5).cast("string"),
        F.lit(" --><h1>T"),
        d.cast("string"),
        F.lit('</h1><p class="c">'),
        F.col("text"),
        F.lit(" &amp; tail</p></body></html>"),
    )
    docs = _t(spark, sf_dir, "documents").withColumn("text", html)
    stripped = strip_html(docs, target="ex").select("doc_id", "ex")
    gated = gopher_rules(
        stripped,
        text_col="ex",
        min_words=30,
        min_mean_word_len=3.0,
        min_stopword_hits=1,
    )
    # kept is consumed by winnow_pairs AND by both sides of the
    # keep-best joins; without a persist the strip+gopher HOF chain
    # (10+ regex passes/row, no codegen CSE through HOF lambdas) is
    # re-evaluated 3-4× — measured 8.3 s → 6.2 s with the cache
    from syslog_ng_spark.operators.dedup import _unpersist_on_gc

    kept = gated.filter(F.col("gopher_keep")).select("doc_id", "ex").persist()
    pairs = winnow_pairs(kept, text_col="ex", threshold=0.3)
    survivors = dedup_keep_best(
        kept.withColumn("text_len", F.length("ex")), pairs, score_col="text_len"
    )
    out = survivors.select(
        "doc_id", "component", F.col("text_len").cast("long").alias("text_len")
    ).orderBy("doc_id")
    _unpersist_on_gc(out, kept)
    return out


_WEB_CURATION_SQL = """
WITH RECURSIVE planted AS (
  SELECT doc_id,
         '<html><body><!-- c' || CAST(doc_id % 5 AS VARCHAR)
         || ' --><h1>T' || CAST(doc_id AS VARCHAR)
         || '</h1><p class="c">' || text || ' &amp; tail</p></body></html>'
         AS html
  FROM documents
), strippedraw AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>',
               ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '(?s)<[^>]*>', ' ', 'g') AS t
  FROM planted
), decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(replace(
           t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
           '&#39;', ''''), '&#34;', '"'), '&nbsp;', ' '), '&amp;', '&') AS t
  FROM strippedraw
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(t, '[ \\t\\n\\r\\f\\v]+', ' ', 'g')) AS ex
  FROM decoded
), sig AS (
  SELECT doc_id, ex,
         list_filter(string_split_regex(ex, '\\s+'), t -> t <> '') AS w,
         string_split(ex, chr(10)) AS l
  FROM stripped
), agg AS (
  SELECT doc_id, ex,
         len(w) AS n_words,
         CASE WHEN len(w) > 0 THEN len(w) ELSE 1 END AS safe_w,
         CASE WHEN len(l) > 0 THEN len(l) ELSE 1 END AS safe_l,
         CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) AS wl_sum,
         length(ex) - length(replace(ex, '#', '')) AS n_hash,
         len(regexp_extract_all(ex, '\\.\\.\\.')) AS n_ell,
         len(list_filter(l, x -> regexp_matches(ltrim(x), '^[-*•]'))) AS n_bullet,
         len(list_filter(l, x -> regexp_matches(rtrim(x), '\\.\\.\\.$'))) AS n_ell_line,
         len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> list_contains(list_transform(w, x -> lower(x)), s))) AS stop_hits
  FROM sig
), kept AS (
  SELECT doc_id, ex FROM agg
  WHERE n_words >= 30 AND n_words <= 100000
    AND coalesce(wl_sum, 0.0) / safe_w >= 3.0
    AND coalesce(wl_sum, 0.0) / safe_w <= 10.0
    AND (n_hash + n_ell) / CAST(safe_w AS DOUBLE) <= 0.1
    AND n_bullet / CAST(safe_l AS DOUBLE) <= 0.9
    AND n_ell_line / CAST(safe_l AS DOUBLE) <= 0.3
    AND n_alpha / CAST(safe_w AS DOUBLE) >= 0.8
    AND stop_hits >= 1
), toks AS (
  SELECT doc_id, ex,
         list_filter(string_split_regex(lower(trim(ex)), '[^a-zA-Z0-9_]+'),
                     t -> t <> '') AS tk
  FROM kept
), grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 5
              THEN list_transform(range(1, len(tk)-5+2),
                   i -> substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 16))
              WHEN len(tk) >= 1
              THEN [substr(md5(array_to_string(tk, ' ')), 1, 16)]
              ELSE [] END AS gs
  FROM toks
), g AS (
  SELECT doc_id, len(gs) AS g_cnt,
         unnest(gs) AS h,
         unnest(range(1, len(gs)+1)) AS pos
  FROM grams
), wmin AS (
  SELECT doc_id, pos, g_cnt,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wmin
  WHERE pos <= greatest(g_cnt - 3, 1)
), sets AS (
  SELECT doc_id, list_sort(list(fp)) AS s FROM fps GROUP BY doc_id
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE >= 0.3
), sym AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION SELECT id_b, id_a FROM p
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u
), comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
), alldocs AS (
  SELECT k.doc_id, coalesce(c.component, k.doc_id) AS component,
         length(k.ex) AS text_len
  FROM kept k LEFT JOIN comp c USING (doc_id)
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY text_len DESC, doc_id) AS rn
  FROM alldocs
)
SELECT doc_id, component, CAST(text_len AS BIGINT) AS text_len
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""
