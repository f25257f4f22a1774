"""Reference-parity queries — every relational operator in SURVEY.md §2
demonstrated on the driver's testdata tables with a DuckDB oracle.

The reference's tables (encode_jobs/encode_formats) are not part of the
driver's catalog, so each operator is exercised on the TPC-H-ish tables
with the same semantics:

* orders    stands in for encode_jobs  (o_totalprice ~ priority,
            o_orderstatus ~ status)
* customer  stands in for encode_formats (small broadcast dimension)
* documents supplies the string/path workloads
* events    supplies the status/event stream

Reference sites are cited per query (file:line under /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from encodesrv_spark.catalog import load_table
from encodesrv_spark.functions import scalars
from encodesrv_spark.functions.exact import exact_sum, money_round
from encodesrv_spark.plans.registry import register


# ---------------------------------------------------------------------------
# T1 + P1 + P2 — the poll scan: filter → top-k → project
# (reference encodesrv/__init__.py:92,103: SELECT ... WHERE status='Not
#  Encoding' ORDER BY priority DESC LIMIT k)
# ---------------------------------------------------------------------------
@register(
    "poll_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderstatus = 'O'
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
    tags=("parity", "topk"),
)
def poll_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority top-k dequeue (T1): Catalyst compiles orderBy+limit to
    TakeOrderedAndProject — per-partition heap top-k then merge, no full
    sort, no full shuffle.  `o_orderkey` tiebreak makes ties
    deterministic (reference relies on Postgres order: SURVEY §7.3.6)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# J1 — FK lookup join as broadcast hash join
# (reference encodesrv/job.py:163-172 — per-row point SELECT on formats;
#  here: one set-at-a-time broadcast join instead of N round trips)
# ---------------------------------------------------------------------------
@register(
    "claim_join",
    oracle="""
        WITH topk AS (
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderstatus = 'O'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
        )
        SELECT t.o_orderkey, round(t.o_totalprice, 2) AS o_totalprice,
               c.c_name, c.c_mktsegment, n.n_name
        FROM topk t
        JOIN customer c ON t.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    tags=("parity", "join"),
)
def claim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job→format FK join (J1) as an explicit broadcast hash join.  The
    bounded side here is the 50-row top-k (constant regardless of SF),
    so THAT side carries the broadcast hint and probes partitioned
    customer; nation (constant 25 rows) is also hinted.  Broadcasting
    customer itself would invert the size relationship at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    topk = (
        o.filter(F.col("o_orderstatus") == "O")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )
    return (
        F.broadcast(topk).join(c, topk.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "c_name",
            "c_mktsegment",
            "n_name",
        )
    )


# ---------------------------------------------------------------------------
# P3 + P4 — ownership LIKE / NOT LIKE predicates
# (reference encodesrv/__init__.py:78: status LIKE '%srv%' AND NOT LIKE '%Error%')
# ---------------------------------------------------------------------------
@register(
    "ownership_like",
    oracle="""
        SELECT doc_id, source, lang
        FROM documents
        WHERE text LIKE '%spark%' AND text NOT LIKE '%slow%'
    """,
    tags=("parity", "filter"),
)
def ownership_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contains / not-contains predicates (P3/P4) — JVM-side `contains`,
    pushed into the scan where the format supports it."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("text").contains("spark") & ~F.col("text").contains("slow")
    ).select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# A1 + P5 + F5 + F14 — filtered count and the bot status message
# (reference encodesrv/logs/bots/common.py:66-80, messages.py:13)
# ---------------------------------------------------------------------------
@register(
    "status_message",
    oracle="""
        SELECT waiting,
               concat('with ', waiting, ' item',
                      CASE WHEN waiting = 1 THEN '' ELSE 's' END,
                      ' waiting.') AS msg
        FROM (
            SELECT count(*)::BIGINT AS waiting
            FROM events WHERE event_type IN ('signup', 'error')
        )
    """,
    tags=("parity", "agg"),
)
def status_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered COUNT(*) (A1) + disjunctive predicate via isin (P5) +
    pluralization template (F5/F14) — the bot 'status' reply."""
    e = load_table(spark, sf_dir, "events")
    agg = e.filter(F.col("event_type").isin("signup", "error")).agg(
        F.count("*").alias("waiting")
    )
    return agg.select(
        "waiting",
        F.concat(
            F.lit("with "),
            F.col("waiting").cast("string"),
            F.lit(" item"),
            scalars.pluralize("waiting"),
            F.lit(" waiting."),
        ).alias("msg"),
    )


# ---------------------------------------------------------------------------
# P7 — NULL→default coalesce, via an outer join that manufactures NULLs
# (reference encodesrv/job.py:85,171: [x if x is not None else ''])
# ---------------------------------------------------------------------------
@register(
    "coalesce_defaults",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               coalesce(o.n_orders, 0)::BIGINT AS n_orders,
               CAST(round(coalesce(o.total, 0), 2) AS DOUBLE) AS total
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, count(*)::BIGINT AS n_orders,
                   sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total
            FROM orders GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
    """,
    tags=("parity", "join", "agg"),
)
def coalesce_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL coalescing (P7) over a left outer join: customers with no
    orders get default 0 — the Spark shape of the reference's NULL→''
    row normalization. Aggregation happens BEFORE the join (smaller
    shuffle; partial aggregation map-side).  The money sum is EXACT
    (exact_sum), and the no-orders default coalesces in decimal space
    before the one round/cast — NULL-vs-0 and rounding agree with the
    oracle by construction."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("total")
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            money_round(F.coalesce("total", F.lit(0))).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# F1-F5 — path function suite on synthesized media paths
# (reference encodesrv/__init__.py:108-110, encodesrv/job.py:86,142,152,286)
# ---------------------------------------------------------------------------
@register(
    "path_functions",
    oracle="""
        WITH p AS (
            SELECT doc_id, lang,
                   concat('/videos/', source, '/clip_', doc_id, '.mp4') AS path
            FROM documents
        )
        SELECT doc_id,
               path,
               concat('/mnt/media/', regexp_replace(path, '^/+', '')) AS mounted,
               (string_split(path, '/'))[-1] AS base,
               regexp_extract(path, '(?:^|/)\\.*[^./][^/]*?(\\.[^./]*)$', 1) AS ext,
               regexp_replace(path, '/[^/]*$', '') AS dir,
               concat((string_split(path, '/'))[-1], ' (', lang, ')') AS nice
        FROM p
    """,
    tags=("parity", "scalar"),
)
def path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mount-prefix rewrite (F1), basename (F2), extension (F3), dirname
    (F4), nice-name template (F5) — all as codegen'd Column expressions."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("/videos/"), F.col("source"), F.lit("/clip_"),
            F.col("doc_id").cast("string"), F.lit(".mp4"),
        ).alias("path"),
    )
    return p.select(
        "doc_id",
        "path",
        scalars.mount_rewrite("path", "/mnt/media/").alias("mounted"),
        scalars.basename("path").alias("base"),
        scalars.splitext_ext("path").alias("ext"),
        F.regexp_replace("path", "/[^/]*$", "").alias("dir"),
        scalars.nice_name("path", "lang").alias("nice"),
    )


# ---------------------------------------------------------------------------
# F6 + F7 + P8 — conditional command-template assembly
# (reference encodesrv/job.py:30-51,235-244)
# ---------------------------------------------------------------------------
@register(
    "template_argv",
    oracle="""
        SELECT p_partkey,
               concat_ws(' ',
                   'ffmpeg -y -i _SourceFile',
                   printf('-c:v %s', p_brand),
                   CASE WHEN p_size > 25 THEN printf('-s %dx%d', p_size * 64, p_size * 36) END,
                   CASE WHEN p_retailprice > 1500.0 THEN '-b:v 4M' END,
                   CASE WHEN p_type LIKE '%BRASS%' THEN '-pass 2' END,
                   '_TempDest') AS cmd
        FROM part
    """,
    tags=("parity", "scalar"),
)
def template_argv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional arg-template assembly (F6/P8): each fragment is
    emitted only when its parameter is truthy; concat_ws drops the NULL
    fragments exactly like the reference's truthy filter drops args."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws(
            " ",
            F.lit("ffmpeg -y -i _SourceFile"),
            F.format_string("-c:v %s", F.col("p_brand")),
            F.when(
                F.col("p_size") > 25,
                F.format_string("-s %dx%d", F.col("p_size") * 64, F.col("p_size") * 36),
            ),
            F.when(F.col("p_retailprice") > 1500.0, F.lit("-b:v 4M")),
            F.when(F.col("p_type").contains("BRASS"), F.lit("-pass 2")),
            F.lit("_TempDest"),
        ).alias("cmd"),
    )


# ---------------------------------------------------------------------------
# F8 + F9 — loudness extraction and dB→linear gain math
# (reference encodesrv/job.py:201-215)
# ---------------------------------------------------------------------------
@register(
    "loudness_gain",
    oracle="""
        WITH ff AS (
            -- x.5 values are exactly representable in binary, so %.1f
            -- formatting is identical across engines (no rounding step)
            SELECT event_id,
                   printf('Integrated loudness: I: %.1f LUFS',
                          -40.0 + (event_id % 25) + 0.5) AS stderr
            FROM events WHERE event_type = 'error'
        )
        SELECT event_id,
               regexp_extract(stderr, 'I:\\s*(-?\\d+\\.?\\d*) LUFS', 1)::DOUBLE AS measured,
               round(pow(10.0, ((-23.0) - regexp_extract(stderr, 'I:\\s*(-?\\d+\\.?\\d*) LUFS', 1)::DOUBLE) / 20.0), 6) AS gain
        FROM ff
    """,
    tags=("parity", "scalar"),
)
def loudness_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ebur128 loudness regex extract (F8) + 10^((target-I)/20) gain
    (F9), on synthesized ffmpeg-style stderr lines."""
    e = load_table(spark, sf_dir, "events")
    ff = e.filter(F.col("event_type") == "error").select(
        "event_id",
        F.format_string(
            "Integrated loudness: I: %.1f LUFS",
            F.lit(-40.0) + (F.col("event_id") % 25) + F.lit(0.5),
        ).alias("stderr"),
    )
    measured = scalars.extract_loudness("stderr")
    return ff.select(
        "event_id",
        measured.alias("measured"),
        F.round(scalars.db_gain(-23.0, measured), 6).alias("gain"),
    )


# ---------------------------------------------------------------------------
# F11 — printf-pattern detection and regex rewrite (thumbnail sequences)
# (reference encodesrv/job.py:298-301)
# ---------------------------------------------------------------------------
@register(
    "printf_pattern",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN concat('/out/', source, '/frame_%05d.png')
                        ELSE concat('/out/', source, '/video.mp4') END AS dest
            FROM documents
        )
        SELECT doc_id, dest,
               regexp_matches(dest, '%[0-9]+d') AS is_sequence,
               regexp_replace(dest, '%([0-9]+)d', '\\\\d+') AS match_regex
        FROM d
    """,
    tags=("parity", "scalar"),
)
def printf_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'%05d' thumbnail-sequence detection (F11): rlike + pattern→regex
    rewrite, used by the file-sequence publish sink (S13)."""
    d = load_table(spark, sf_dir, "documents")
    dest = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("/out/"), F.col("source"), F.lit("/frame_%05d.png")),
    ).otherwise(F.concat(F.lit("/out/"), F.col("source"), F.lit("/video.mp4")))
    d2 = d.select("doc_id", dest.alias("dest"))
    return d2.select(
        "doc_id",
        "dest",
        scalars.has_printf_pattern("dest").alias("is_sequence"),
        scalars.printf_pattern_to_regex("dest").alias("match_regex"),
    )


# ---------------------------------------------------------------------------
# A4 — progress percentage as a window computation
# (reference encodesrv/job.py:304: (i*100)/len(files))
# ---------------------------------------------------------------------------
@register(
    "progress_pct",
    oracle="""
        SELECT o_orderkey, o_custkey,
               row_number() OVER w AS seq,
               round(100.0 * row_number() OVER w / count(*) OVER (PARTITION BY o_custkey), 2) AS pct
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("parity", "window"),
)
def progress_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group progress ratio (A4) as window functions — the set-
    oriented form of the reference's per-file percent counter."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wc = W.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("seq"),
        F.round(100.0 * F.row_number().over(w) / F.count("*").over(wc), 2).alias("pct"),
    )


# ---------------------------------------------------------------------------
# A3 — collect-list of running jobs, comma-joined
# (reference encodesrv/__init__.py:36-52, logs/bots/common.py:59-64)
# ---------------------------------------------------------------------------
@register(
    "running_jobs_list",
    oracle="""
        SELECT lang,
               count(*)::BIGINT AS n_docs,
               string_agg(concat(source, '#', doc_id), ', ' ORDER BY concat(source, '#', doc_id)) AS names
        FROM documents
        GROUP BY lang
    """,
    tags=("parity", "agg"),
)
def running_jobs_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list + array_join (A3) with a sort inside the list so the
    aggregation is order-insensitive (distributed collect_list has no
    deterministic order — sort makes it reproducible)."""
    d = load_table(spark, sf_dir, "documents")
    name = F.concat(F.col("source"), F.lit("#"), F.col("doc_id").cast("string"))
    return (
        d.select("lang", name.alias("name"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(F.array_sort(F.collect_list("name")), ", ").alias("names"),
        )
    )


# ---------------------------------------------------------------------------
# ST5 — crash-reset state transition as a declarative rewrite
# (reference encodesrv/__init__.py:73-84)
# ---------------------------------------------------------------------------
@register(
    "crash_reset",
    oracle="""
        WITH s AS (
            SELECT event_id,
                   CASE event_type
                        WHEN 'error' THEN 'srv1 - Error'
                        WHEN 'purchase' THEN 'srv1 - Encoding Pass 1'
                        WHEN 'signup' THEN 'Not Encoding'
                        ELSE 'srv2 - Waiting' END AS status
            FROM events
        )
        SELECT CASE WHEN status LIKE '%srv1%' AND status NOT LIKE '%Error%'
                    THEN 'Not Encoding' ELSE status END AS new_status,
               count(*)::BIGINT AS n
        FROM s
        GROUP BY 1
    """,
    tags=("parity", "state"),
)
def crash_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Startup crash recovery (ST5): this server's in-flight, non-Error
    jobs reset to 'Not Encoding'; other servers' rows untouched —
    ownership is the LIKE-substring semantics of P3/P4."""
    e = load_table(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_type") == "error", "srv1 - Error")
        .when(F.col("event_type") == "purchase", "srv1 - Encoding Pass 1")
        .when(F.col("event_type") == "signup", "Not Encoding")
        .otherwise("srv2 - Waiting")
    )
    s = e.select("event_id", status.alias("status"))
    new_status = F.when(
        F.col("status").contains("srv1") & ~F.col("status").contains("Error"),
        F.lit("Not Encoding"),
    ).otherwise(F.col("status"))
    return s.select(new_status.alias("new_status")).groupBy("new_status").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# F18 — two-pass loop as explode(sequence(...))
# (reference encodesrv/job.py:227-233)
# ---------------------------------------------------------------------------
@register(
    "pass_explode",
    oracle="""
        SELECT p_partkey,
               unnest(generate_series(1, CASE WHEN p_size % 2 = 0 THEN 2 ELSE 1 END))::INTEGER AS pass_no
        FROM part
    """,
    tags=("parity", "lateral"),
)
def pass_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded per-row pass loop (F18) as explode(sequence(1, pass)) —
    one row per encode pass, fully parallel instead of sequential."""
    p = load_table(spark, sf_dir, "part")
    passes = F.when(F.col("p_size") % 2 == 0, F.lit(2)).otherwise(F.lit(1))
    return p.select(
        "p_partkey",
        F.explode(F.sequence(F.lit(1), passes)).alias("pass_no"),
    )


# ---------------------------------------------------------------------------
# F15 + F16 — timestamp rendering and staleness watchdog math
# (reference encodesrv/__init__.py:121-130)
# ---------------------------------------------------------------------------
@register(
    "date_math",
    oracle="""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso,
               date_diff('day', o_orderdate::DATE, DATE '1998-12-31')::BIGINT AS age_days,
               (date_diff('day', o_orderdate::DATE, DATE '1998-12-31') > 365) AS stale
        FROM orders
    """,
    tags=("parity", "scalar"),
)
def date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO timestamp formatting (F15) + day-delta staleness threshold
    (F16 — the reference's >1-day watchdog generalized)."""
    o = load_table(spark, sf_dir, "orders")
    age = F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
    return o.select(
        "o_orderkey",
        scalars.iso_ts("o_orderdate").alias("iso"),
        age.cast("long").alias("age_days"),
        (age > 365).alias("stale"),
    )


# ---------------------------------------------------------------------------
# F13/F12 — bot message parse + digit validation
# (reference encodesrv/logs/bots/common.py:11, encodesrv/job.py:76)
# ---------------------------------------------------------------------------
@register(
    "bot_parse",
    oracle=r"""
        WITH msgs AS (
            SELECT doc_id,
                   concat('<@', source, '>: status ', (doc_id % 150)::VARCHAR) AS msg,
                   (doc_id % 150)::VARCHAR AS pct_field
            FROM documents
        )
        SELECT doc_id,
               regexp_extract(msg, '^<?@?([^ \|^>]*)>?: *(.*)', 1) AS bot_user,
               regexp_extract(msg, '^<?@?([^ \|^>]*)>?: *(.*)', 2) AS command,
               regexp_matches(pct_field, '^[0-9]+$') AS valid_pct
        FROM msgs
    """,
    tags=("parity", "scalar"),
)
def bot_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Addressed-message parse (F13: user + command via one regex, the
    IRC/Slack `<@user>: cmd` shape) and pv progress-line digit
    validation (F12) — messages synthesized deterministically from the
    documents table so the oracle sees identical inputs."""
    d = load_table(spark, sf_dir, "documents")
    msgs = d.select(
        "doc_id",
        F.concat(
            F.lit("<@"), F.col("source"), F.lit(">: status "),
            (F.col("doc_id") % 150).cast("string"),
        ).alias("msg"),
        (F.col("doc_id") % 150).cast("string").alias("pct_field"),
    )
    return msgs.select(
        "doc_id",
        scalars.bot_command_user("msg").alias("bot_user"),
        scalars.bot_command_text("msg").alias("command"),
        scalars.is_all_digits("pct_field").alias("valid_pct"),
    )
