"""Driver contract for the spark-graft builder (PySpark target).

Every query is one :class:`Query` record in ``_QUERIES``: its name, the
fixture tables it reads, a ``build`` over those frames, and the DuckDB
``oracle`` SQL that must return the same rows. ``queries()`` exposes each
build as a ``(spark, sf_dir) -> DataFrame`` callable and ``oracle_sql()``
the SQL, both derived from that one table. Column names are aliased
identically on both sides (the driver's compare hashes values under sorted
column names).

The fixture `events` table maps onto the canonical clickstream as
``user_id→visitorid``, ``event_type→event``, ``ts→event_time`` and the props
payload's integer as ``itemid`` (FIXTURES.md §4). Funnel steps for this
fixture's vocabulary: view → click → purchase.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from clickestream_project_bigdata_spark import streaming  # noqa: E402
from clickestream_project_bigdata_spark.functions import portable  # noqa: E402
from clickestream_project_bigdata_spark.operators import (  # noqa: E402
    analytics,
    curation,
    dedup,
    graph,
    multimodal,
    relational,
    similarity,
    text,
)
from clickestream_project_bigdata_spark.operators.sessionize import (  # noqa: E402
    session_metrics,
    sessionize,
)
from clickestream_project_bigdata_spark.sources.readers import (  # noqa: E402
    events_from_fixture,
    read_events_table,
    read_parquet_table,
)

FUNNEL_STEPS = ["view", "click", "purchase"]

#: Shared DuckDB CTE mapping the fixture events table onto the canonical
#: clickstream (mirror of `events_from_fixture`).
_EV = (
    "ev AS (SELECT user_id AS visitorid, event_type AS event, ts AS event_time, "
    "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events)"
)

#: Shared DuckDB CTE for gaps-and-islands sessionization (mirror of
#: `operators/sessionize.py`; gap strictly > 1800 s of floored-epoch seconds).
_SESSIONIZED = (
    _EV + ", "
    "lagged AS (SELECT *, lag(event_time) OVER (PARTITION BY visitorid ORDER BY event_time) AS prev_t FROM ev), "
    "flagged AS (SELECT *, CASE WHEN prev_t IS NULL OR date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END AS is_new FROM lagged), "
    "sessionized AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged)"
)


def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone: every time function here (date_trunc,
    date_format, unix_timestamp) must agree with DuckDB's naive timestamps
    regardless of how the caller built the session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: cleanse-mapped events → sessionize → session metrics."""
    events = events_from_fixture(_utc(spark), "/root/testdata/sf0.001")
    return session_metrics(sessionize(events))


@dataclass(frozen=True)
class Query:
    """One driver-contract query. ``build`` takes one DataFrame per name in
    ``tables``, in that order; ``oracle`` is the DuckDB SQL over the same
    fixture that must return the same rows."""

    name: str
    tables: tuple[str, ...]
    build: Callable[..., DataFrame]
    oracle: str


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``events`` is the canonical clickstream mapped from the fixture file,
    ``events_raw`` that file as stored; any other name is a parquet scan."""
    if table == "events":
        return events_from_fixture(spark, sf_dir)
    if table == "events_raw":
        return read_events_table(spark, sf_dir)
    return read_parquet_table(spark, sf_dir, table)


def _run(q: Query, spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return q.build(*(_read(spark, sf_dir, t) for t in q.tables))


# ---------------------------------------------------------------------------
# builds that compose more than one operator call
# ---------------------------------------------------------------------------

def _q_sessions(ev: DataFrame) -> DataFrame:
    return session_metrics(sessionize(ev))


def _q_user_paths(ev: DataFrame) -> DataFrame:
    s = sessionize(ev)
    return analytics.user_paths(s).select(
        "visitorid",
        "session_id",
        F.concat_ws(">", F.col("user_path")).alias("path_str"),
    )


def _q_funnel(ev: DataFrame) -> DataFrame:
    s = sessionize(ev)
    return analytics.funnel_analysis(s, FUNNEL_STEPS)


def _q_session_length_quantiles(ev: DataFrame) -> DataFrame:
    m = session_metrics(sessionize(ev))
    return analytics.session_length_quantiles(m)


def _q_session_window_sessions(ev: DataFrame) -> DataFrame:
    # batch frames ignore watermarks; reuse the streaming operator verbatim
    return streaming.stateful_session_metrics(ev.withWatermark("event_time", "1 hour"))


def _q_cleanse(ev: DataFrame) -> DataFrame:
    return ev.select(
        F.col("event_id"),
        F.date_format(F.timestamp_millis(F.unix_millis(F.col("ts"))), "yyyy-MM-dd HH:mm:ss").alias("ts_formatted"),
        F.unix_millis(F.col("ts")).alias("unix_ts_ms"),
        F.when(F.col("event_type") == "view", F.lit("Low Value"))
        .otherwise(F.lit("High Value"))
        .alias("event_category"),
    )


def _q_item_lift(ev: DataFrame) -> DataFrame:
    return analytics.item_lift(sessionize(ev))


def _q_incremental_dedup(docs: DataFrame) -> DataFrame:
    new_batch = docs.filter(F.col("doc_id") % 3 == 0)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup.incremental_dedup(new_batch, seen).select("doc_id", "source")


def _q_next_item_recs(ev: DataFrame) -> DataFrame:
    return graph.next_item_recommendations(graph.item_transitions(ev), k=3)


def _q_session_entry_exit(ev: DataFrame) -> DataFrame:
    return analytics.session_entry_exit(sessionize(ev))


def _q_top_paths(ev: DataFrame) -> DataFrame:
    return analytics.top_paths(sessionize(ev))


def _q_sequential_funnel(ev: DataFrame) -> DataFrame:
    s = sessionize(ev)
    return analytics.sequential_funnel(s, ["view", "click", "purchase"])


def _q_item_cooccurrence(ev: DataFrame) -> DataFrame:
    s = sessionize(ev)
    return analytics.item_cooccurrence(s, k=100)


def _q_item_pagerank(ev: DataFrame) -> DataFrame:
    return graph.pagerank(graph.item_transitions(ev))


def _q_pack_efficiency(docs: DataFrame) -> DataFrame:
    return curation.pack_efficiency(curation.pack_sequences(docs, budget=512), budget=512)


def _q_select_token_budget(docs: DataFrame) -> DataFrame:
    scored = text.text_stats(docs)
    return curation.select_token_budget(scored, token_budget=10_000)


def _q_dedup_keep_first(docs: DataFrame) -> DataFrame:
    return dedup.dedup_keep_first(docs).select("doc_id", "lang", "source", "n_chars")


def _q_dedup_apply(docs: DataFrame) -> DataFrame:
    return dedup.dedup_apply(
        docs, threshold=0.7, hash="portable"
    ).select("doc_id", "lang", "source", "n_chars")


def _q_dedup_clusters(docs: DataFrame) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, hash="portable")
    return dedup.duplicate_clusters(pairs)


def _q_normalize_embeddings(emb: DataFrame) -> DataFrame:
    out = similarity.normalize_embeddings(emb)
    return out.select(
        "vec_id",
        F.concat_ws(
            ",",
            F.transform(
                F.col("normalized"),
                lambda x: F.round(x * 1000000).cast("bigint").cast("string"),
            ),
        ).alias("normalized_q6"),
    )


def _q_quantize_embeddings(emb: DataFrame) -> DataFrame:
    out = similarity.quantize_embeddings(emb)
    return out.select(
        "vec_id",
        "scale",
        F.concat_ws(
            ",", F.transform(F.col("qvec"), lambda x: x.cast("string"))
        ).alias("qvec_csv"),
    )


def _q_view_purchase_attribution(ev: DataFrame) -> DataFrame:
    return streaming.attribution_join(
        ev.filter(F.col("event") == "view"),
        ev.filter(F.col("event") == "purchase"),
        horizon="30 minutes",
    )


def _q_view_purchase_attribution_outer(ev: DataFrame) -> DataFrame:
    return streaming.attribution_join_outer(
        ev.filter(F.col("event") == "view"),
        ev.filter(F.col("event") == "purchase"),
        horizon="30 minutes",
    )


def _q_windowed_conversion_rate(ev: DataFrame) -> DataFrame:
    return streaming.windowed_conversion_rate(
        ev.filter(F.col("event") == "view"),
        ev.filter(F.col("event") == "purchase"),
        horizon="30 minutes",
        window="1 hour",
    )


def _q_conversion_rate_by_item(ev: DataFrame) -> DataFrame:
    return streaming.conversion_rate_by_item(
        ev.filter(F.col("event") == "view"),
        ev.filter(F.col("event") == "purchase"),
        horizon="30 minutes",
    )


#: Fixed campaign windows inside the fixture's January range — shared by the
#: Spark query and the DuckDB oracle for the interval-overlap join.
_CAMPAIGNS = [
    ("c1", "2024-01-03 06:00:00", "2024-01-03 18:00:00"),
    ("c2", "2024-01-10 00:00:00", "2024-01-10 12:00:00"),
    ("c3", "2024-01-21 12:00:00", "2024-01-22 00:00:00"),
]


def _q_sessions_in_campaigns(ev: DataFrame) -> DataFrame:
    iv = session_metrics(sessionize(ev)).select(
        "session_id", "session_start", "session_end"
    )
    campaigns = ev.sparkSession.createDataFrame(
        [(c, s, e) for c, s, e in _CAMPAIGNS],
        "campaign string, c_start string, c_end string",
    ).select(
        "campaign",
        F.col("c_start").cast("timestamp").alias("c_start"),
        F.col("c_end").cast("timestamp").alias("c_end"),
    )
    return relational.interval_overlap_join(
        iv, campaigns, "session_start", "session_end", "c_start", "c_end",
        bucket_seconds=6 * 3600,
    ).select("session_id", "campaign")


def _q_events_with_session(ev: DataFrame) -> DataFrame:
    iv = session_metrics(sessionize(ev)).select(
        "session_id", "visitorid", "session_start", "session_end"
    )
    out = relational.range_join(
        ev.select("visitorid", "event_time", "itemid"),
        iv,
        ts_col="event_time",
        start_col="session_start",
        end_col="session_end",
        by="visitorid",
        bucket_seconds=3600,
    )
    return out.select("visitorid", "event_time", "itemid", "session_id")


def _q_asof_last_purchase(ev: DataFrame) -> DataFrame:
    left = ev.filter(F.col("event") == "view").select(
        "visitorid", "event_time", "itemid"
    )
    right = (
        ev.filter(F.col("event") == "purchase")
        .groupBy("visitorid", "event_time")
        .agg(F.max("value").alias("purchase_value"))
    )
    return relational.asof_join(
        left, right, ts_col="event_time", by="visitorid",
        value_cols=("purchase_value",),
    )


def _q_split_corpus(docs: DataFrame) -> DataFrame:
    return curation.split_corpus(
        docs, fractions={"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "lang", "source", "split")


def _q_stratified_fixed_k(docs: DataFrame) -> DataFrame:
    return curation.stratified_fixed_k(
        docs, k=20, by=("lang",)
    ).select("doc_id", "lang", "source", "sample_rank")


def _q_temperature_sample(docs: DataFrame) -> DataFrame:
    return curation.temperature_sample(
        docs, alpha=0.5, fraction=0.5, by=("lang",)
    ).select("doc_id", "lang", "source")


def _q_decontaminate(docs: DataFrame) -> DataFrame:
    bench = curation.stratified_sample(docs, fraction=0.2)
    return curation.decontaminate(docs, bench, n=5)


def _q_decontaminate_apply(docs: DataFrame) -> DataFrame:
    bench = curation.stratified_sample(docs, fraction=0.2)
    return curation.decontaminate_apply(docs, bench, n=5).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_corpus_sample(docs: DataFrame) -> DataFrame:
    return curation.stratified_sample(docs, fraction=0.2).select(
        "doc_id", "lang", "source"
    )


def _q_multimodal_decode(docs: DataFrame) -> DataFrame:
    return multimodal.decode_images(multimodal.attach_binary(docs))


def _q_multimodal_features(docs: DataFrame) -> DataFrame:
    feats = multimodal.extract_features(
        multimodal.attach_binary(docs), normalize=False
    )
    return feats.select(
        "doc_id", F.posexplode("feature").alias("bucket", "cnt")
    ).select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("byte_count"),
    )


def _q_multimodal_frames(docs: DataFrame) -> DataFrame:
    return multimodal.sample_frames(multimodal.attach_binary(docs)).select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


def _q_gopher_quality_flags(docs: DataFrame) -> DataFrame:
    df = text.gopher_quality_flags(docs)
    return df.select(
        *[
            F.col(c).cast("int").alias(c)
            if c.startswith("ok_") or c == "passes_all"
            else F.col(c)
            for c in df.columns
        ]
    )


def _q_snapshot_diff(docs: DataFrame) -> DataFrame:
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return curation.snapshot_diff(old, new)


def _q_neardup_cluster_sizes(docs: DataFrame) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, hash="portable")
    return dedup.neardup_cluster_sizes(dedup.duplicate_clusters(pairs))


def _q_multimodal_audio(docs: DataFrame) -> DataFrame:
    return multimodal.decode_audio(multimodal.attach_audio_binary(docs))


def _q_multimodal_video(docs: DataFrame) -> DataFrame:
    return multimodal.decode_video(multimodal.attach_video_binary(docs))


def _q_path_conversion_rates(ev: DataFrame) -> DataFrame:
    s = sessionize(ev)
    return analytics.path_conversion_rates(s)


def _q_contamination_by_split(docs: DataFrame) -> DataFrame:
    bench = curation.stratified_sample(docs, fraction=0.2)
    return curation.contamination_by_split(docs, bench, n=5)


def _q_heavy_hitter_tokens(docs: DataFrame) -> DataFrame:
    toks = (
        docs.select(F.explode(text.tokens_col(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    return analytics.heavy_hitters_2pass(toks, key="token", share_ppm=5000)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

_DEC_REV = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
)

_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + "]"
_NORM_TEXT_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


# --- portable-sketch oracle builders ---------------------------------------
# These replay the md5-derived sketch primitives (functions/portable.py) in
# DuckDB SQL, interpolating the SAME Python-generated constants the Spark
# plans use — which is what makes the sketch queries hash-checkable.

def _shingles_cte(src: str = "documents", shingle_n: int = 2) -> str:
    """Shared shingle CTEs: tokens → distinct word n-grams; docs with
    < shingle_n tokens excluded (zero shingles: Jaccard undefined; mirrors
    the Spark eligibility filter in minhash_lsh_pairs). ``shingle_n=1``
    makes the shingle set the distinct token set itself (the visitor
    item-set similarity spelling)."""
    tk = f"tk AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM {src}), "
    if shingle_n == 1:
        return tk + (
            "sh AS (SELECT doc_id, list_distinct(toks) AS shingles "
            "FROM tk WHERE len(toks) >= 1)"
        )
    assert shingle_n == 2, "oracle spelling exists for n in (1, 2)"
    return tk + (
        "sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-1), "
        "i -> toks[i] || ' ' || toks[i+1])) AS shingles FROM tk WHERE len(toks) >= 2)"
    )


def _minhash_cte(
    num_hashes: int = 64,
    bands: int = 16,
    src: str = "documents",
    shingle_n: int = 2,
) -> str:
    """CTE chain ending in ``verified(doc_a, doc_b, est_jaccard, jaccard)``."""
    a_co, b_co = portable.minhash_seeds(num_hashes)
    r = num_hashes // bands
    seeds_rows = ", ".join(f"({j}, {a_co[j]}, {b_co[j]})" for j in range(num_hashes))
    p = portable.P31
    return (
        f"{_shingles_cte(src, shingle_n)}, "
        f"seeds(j, a, b) AS (VALUES {seeds_rows}), "
        f"hs AS (SELECT doc_id, {portable.phash60_sql('s')} % {p} AS h "
        "FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)), "
        f"mh AS (SELECT doc_id, j, MIN((a * h + b) % {p}) AS m "
        "FROM hs CROSS JOIN seeds GROUP BY doc_id, j), "
        f"bnd AS (SELECT doc_id, j // {r} AS band_idx, "
        "string_agg(CAST(m AS VARCHAR), '_' ORDER BY j) AS band_key "
        f"FROM mh GROUP BY doc_id, j // {r}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bnd a "
        "JOIN bnd b ON a.band_idx = b.band_idx AND a.band_key = b.band_key "
        "AND a.doc_id < b.doc_id), "
        "est AS (SELECT c.doc_a, c.doc_b, "
        f"round(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / {num_hashes}.0, 6) AS est_jaccard "
        "FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a "
        "JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j GROUP BY c.doc_a, c.doc_b), "
        "verified AS (SELECT e.doc_a, e.doc_b, e.est_jaccard, "
        "round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / "
        "(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard "
        "FROM est e JOIN sh sa ON sa.doc_id = e.doc_a JOIN sh sb ON sb.doc_id = e.doc_b)"
    )


def _minhash_sql(threshold: float) -> str:
    return (
        f"WITH {_minhash_cte()} SELECT doc_a, doc_b, est_jaccard, jaccard "
        f"FROM verified WHERE jaccard >= {threshold}"
    )


def _visitor_minhash_sql(
    threshold: float, num_hashes: int = 126, bands: int = 42
) -> str:
    """Visitor item-set MinHash replay: visitor-as-document (ascending
    distinct itemids space-joined), unigram shingles — the shingle set IS
    the item set, so ``jaccard`` is exact set Jaccard. 126 hashes × 42
    bands (r=3) mirrors the operator's low-threshold banding default
    (~94% recall at j=0.4 vs ~34% under the document preset's 16×4; r=2
    would be ~99.6% but explodes on the nonzero background Jaccard at
    visitor grain — r=3 is the measured constraint, band count the
    recall lever, see the operator docstring)."""
    vd = (
        "vd AS (SELECT user_id AS doc_id, "
        "array_to_string(list_transform(list_sort(list_distinct(list(itemid))), "
        "x -> CAST(x AS VARCHAR)), ' ') AS text "
        "FROM (SELECT user_id, CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid "
        "FROM events) WHERE itemid IS NOT NULL GROUP BY user_id)"
    )
    return (
        f"WITH {vd}, "
        f"{_minhash_cte(num_hashes=num_hashes, bands=bands, src='vd', shingle_n=1)} "
        "SELECT doc_a AS visitor_a, doc_b AS visitor_b, est_jaccard, jaccard "
        f"FROM verified WHERE jaccard >= {threshold}"
    )


def _clusters_sql(threshold: float = 0.9, wrap: str | None = None) -> str:
    """Portable MinHash pairs → undirected transitive closure (recursive
    CTE) → cluster_id = min reachable id. Declarative mirror of the Spark
    min-label-propagation loop. ``wrap`` replaces the final SELECT with a
    query over the assignment exposed as CTE ``cl(doc_id, cluster_id)``."""
    base = (
        f"WITH RECURSIVE {_minhash_cte()}, "
        f"pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= {threshold}), "
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(id, r) AS (SELECT s, s FROM edges "
        "UNION SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.id = e.d)"
    )
    final = "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id"
    if wrap is None:
        return f"{base} {final}"
    return f"{base}, cl AS ({final}) {wrap}"


def _redact_chain_sql(src: str) -> str:
    """CTE chain s1→s3 over ``src``: progressive email/SSN/phone redaction
    with per-kind counts (mirror of curation.redact_pii)."""
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    ssn = "\\d{3}-\\d{2}-\\d{4}"
    phone = "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
    return (
        f"s1 AS (SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{email}')) AS INT) AS n_email, "
        f"regexp_replace(text, '{email}', '<email>', 'g') AS t1 FROM {src}), "
        "s2 AS (SELECT doc_id, n_email, "
        f"CAST(len(regexp_extract_all(t1, '{ssn}')) AS INT) AS n_ssn, "
        f"regexp_replace(t1, '{ssn}', '<ssn>', 'g') AS t2 FROM s1), "
        "s3 AS (SELECT doc_id, n_email, n_ssn, "
        f"CAST(len(regexp_extract_all(t2, '{phone}')) AS INT) AS n_phone, "
        f"regexp_replace(t2, '{phone}', '<phone>', 'g') AS t3 FROM s2)"
    )


def _curate_corpus_sql(
    min_quality: float = 0.3, threshold: float = 0.9, budget: int = 512
) -> str:
    """The whole curation pipeline, composed from the same CTE builders the
    per-stage oracles use — one declarative replay of the five stages."""
    return (
        "WITH RECURSIVE "
        f"t0 AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents), "
        "q0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS token_count, "
        "CAST(length(text) AS BIGINT) AS char_count, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) AS stopword_count, "
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_count FROM t0), "
        "qual AS (SELECT doc_id, round(0.5 * least(CAST(token_count AS DOUBLE) / 50, 1.0) "
        "+ 0.3 * (1.0 - CAST(stopword_count AS DOUBLE) / token_count) "
        "+ 0.2 * (1.0 - CAST(punct_count AS DOUBLE) / char_count), 6) AS quality_score FROM q0), "
        "kept1 AS (SELECT d.* FROM documents d WHERE d.doc_id IN "
        f"(SELECT doc_id FROM qual WHERE quality_score >= {min_quality})), "
        "kept2 AS (SELECT * FROM kept1 WHERE doc_id IN "
        f"(SELECT MIN(doc_id) FROM kept1 GROUP BY md5({_NORM_TEXT_SQL}))), "
        f"{_minhash_cte(src='kept2')}, "
        f"pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= {threshold}), "
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(id, r) AS (SELECT s, s FROM edges "
        "UNION SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.id = e.d), "
        "losers AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) <> id), "
        "kept3 AS (SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)), "
        f"{_redact_chain_sql('kept3')}, "
        "red AS (SELECT doc_id, t3 AS text FROM s3), "
        "tok AS (SELECT doc_id, "
        f"CAST(len({_TOKS_SQL}) AS BIGINT) AS token_count, text FROM red), "
        "runr AS (SELECT doc_id, token_count, text, "
        "CAST(SUM(token_count) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tok) "
        "SELECT doc_id, token_count, cum - token_count AS start_offset, "
        f"(cum - token_count) // {budget} AS pack_id, text FROM runr"
    )


def _simhash_sql(max_hamming: int = 8, bits: int = 60) -> str:
    cb = bits // 4
    mask = (1 << cb) - 1
    return (
        "WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents), "
        f"hs AS (SELECT doc_id, {portable.phash60_sql('tok')} AS h FROM tk), "
        "bitsum AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
        f"FROM hs CROSS JOIN range({bits}) AS t(b) GROUP BY doc_id, b), "
        "sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash "
        "FROM bitsum GROUP BY doc_id), "
        f"chunk AS (SELECT doc_id, simhash, c, (simhash >> ({cb} * c)) & {mask} AS ck "
        "FROM sig CROSS JOIN range(4) AS t(c)), "
        "pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "bit_count(xor(a.simhash, b.simhash)) AS hamming "
        "FROM chunk a JOIN chunk b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id) "
        f"SELECT * FROM pr WHERE hamming <= {max_hamming}"
    )


def _vec_lit(row: tuple[float, ...]) -> str:
    return "CAST([" + ", ".join(repr(c) for c in row) + "] AS DOUBLE[])"


def _cos_sql(x: str, y: str) -> str:
    return (
        f"list_dot_product({x}, {y}) / "
        f"(sqrt(list_dot_product({x}, {x})) * sqrt(list_dot_product({y}, {y})))"
    )


def _band_key_sql(comps, band: int, ppb: int) -> str:
    terms = [
        f"(CASE WHEN list_dot_product(v, {_vec_lit(comps[band * ppb + j])}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(ppb)
    ]
    return " + ".join(terms)


def _embedding_pairs_sql(
    threshold: float, num_planes: int = 8, bands: int = 2, dim: int = 64
) -> str:
    comps = portable.hyperplane_components(num_planes, dim)
    ppb = num_planes // bands
    key_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_band_key_sql(comps, b, ppb)} AS band_key FROM e"
        for b in range(bands)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"banded AS ({key_selects}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM banded a "
        "JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key "
        "AND a.vec_id < b.vec_id), "
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        "scored AS (SELECT c.id_a, c.id_b, "
        "round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS score "
        "FROM cand c JOIN n na ON na.vec_id = c.id_a JOIN n nb ON nb.vec_id = c.id_b) "
        f"SELECT * FROM scored WHERE score >= {threshold}"
    )


def _knn_join_sql(
    k: int = 3, num_planes: int = 8, bands: int = 2, dim: int = 64
) -> str:
    comps = portable.hyperplane_components(num_planes, dim)
    ppb = num_planes // bands
    key_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, {_band_key_sql(comps, b, ppb)} AS band_key FROM e"
        for b in range(bands)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"banded AS ({key_selects}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM banded a "
        "JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key "
        "AND a.vec_id <> b.vec_id), "
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        "scored AS (SELECT c.id_a, c.id_b, "
        "round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) AS score "
        "FROM cand c JOIN n na ON na.vec_id = c.id_a JOIN n nb ON nb.vec_id = c.id_b), "
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rnk FROM scored) "
        f"SELECT id_a AS vec_id, id_b AS neighbor_id, score, CAST(rnk AS INT) AS rank "
        f"FROM ranked WHERE rnk <= {k}"
    )


def _lsh_topk_sql(k: int = 10, num_planes: int = 4, dim: int = 64) -> str:
    comps = portable.hyperplane_components(num_planes, dim)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_vec_lit(comps[p])}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"keyed AS (SELECT vec_id, v, {bucket} AS bucket FROM e), "
        "q AS (SELECT v AS qv, bucket AS qb FROM keyed WHERE vec_id = 0) "
        f"SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS score "
        "FROM keyed CROSS JOIN q WHERE bucket = qb "
        f"ORDER BY score DESC, vec_id ASC LIMIT {k}"
    )


def _ivf_topk_sql(k: int = 10, num_centroids: int = 8, nprobe: int = 2) -> str:
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv "
        f"FROM e ORDER BY vec_id LIMIT {num_centroids}), "
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        f"scored AS (SELECT e.vec_id, e.v, c.cell, {_cos_sql('e.v', 'c.cv')} AS sim "
        "FROM e CROSS JOIN cent c), "
        "asg AS (SELECT vec_id, v, cell FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM scored) WHERE rn = 1), "
        f"probe AS (SELECT cell FROM cent CROSS JOIN q ORDER BY {_cos_sql('cv', 'qv')} DESC, cell ASC LIMIT {nprobe}) "
        f"SELECT vec_id, round({_cos_sql('v', 'qv')}, 6) AS score "
        "FROM asg JOIN probe USING (cell) CROSS JOIN q "
        f"ORDER BY score DESC, vec_id ASC LIMIT {k}"
    )


def _ann_recall_sql(approx_sql: str, k: int = 10) -> str:
    """Recall@k of an approximate top-k statement vs exact brute force:
    both run as CTE subqueries (DuckDB allows a WITH inside a derived
    table), intersect on vec_id, one summary row. Mirrors
    similarity.ann_recall_eval including the empty-exact zero-row case."""
    brute = (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) "
        f"SELECT vec_id FROM (SELECT vec_id, {_cos_sql('CAST(embedding AS DOUBLE[])', 'qv')} AS score "
        f"FROM embeddings, q ORDER BY score DESC, vec_id ASC LIMIT {k})"
    )
    return (
        f"WITH exact AS (SELECT vec_id FROM ({brute})), "
        f"approx AS (SELECT vec_id FROM ({approx_sql})), "
        "he AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact), "
        "ha AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx), "
        "hh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits "
        "FROM exact JOIN approx USING (vec_id)) "
        f"SELECT CAST({k} AS BIGINT) AS k, n_exact, n_approx, n_hits, "
        "round(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS recall_at_k "
        "FROM he CROSS JOIN ha CROSS JOIN hh WHERE n_exact > 0"
    )


def _kmv_sql(k: int = 32, grain: str = "hour") -> str:
    return (
        f"WITH {_EV}, "
        f"h AS (SELECT DISTINCT date_trunc('{grain}', event_time) AS bucket, "
        f"{portable.phash60_sql('CAST(visitorid AS VARCHAR)')} AS hh FROM ev), "
        "r AS (SELECT bucket, hh, row_number() OVER (PARTITION BY bucket ORDER BY hh) AS rn FROM h), "
        f"a AS (SELECT bucket, COUNT(*) AS n, MAX(CASE WHEN rn = {k} THEN hh END) AS hk "
        "FROM r GROUP BY bucket) "
        f"SELECT bucket, round(CASE WHEN n < {k} THEN CAST(n AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * {float(portable.PHASH60_MAX)!r} / CAST(hk AS DOUBLE) END, 6) AS active_users_est "
        "FROM a"
    )


def _langid_confusion_sql() -> str:
    langs = sorted(text.LANG_MARKERS)
    score_exprs = ", ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang])
        + f"], x))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
    return (
        f"WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents), "
        f"s AS (SELECT lang, {score_exprs} FROM t), "
        f"b AS (SELECT *, {best} AS best FROM s), "
        f"p AS (SELECT lang, CASE WHEN best = 0 THEN 'unknown' {cases} "
        "ELSE 'unknown' END AS predicted_lang FROM b), "
        "g AS (SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs "
        "FROM p GROUP BY 1, 2) "
        "SELECT lang, predicted_lang, n_docs, "
        "round(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 6) "
        "AS recall FROM g ORDER BY lang ASC, predicted_lang ASC"
    )


def _lang_id_sql() -> str:
    langs = sorted(text.LANG_MARKERS)
    score_exprs = ", ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang])
        + f"], x))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
    return (
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        f"s AS (SELECT doc_id, {score_exprs} FROM t), "
        f"b AS (SELECT *, {best} AS best FROM s) "
        f"SELECT doc_id, CASE WHEN best = 0 THEN 'unknown' {cases} "
        "ELSE 'unknown' END AS predicted_lang FROM b"
    )


def _pagerank_oracle_sql(iterations: int = 10, d: float = 0.85) -> str:
    """The PageRank oracle: the SAME 10 iterations the Spark operator runs,
    unrolled as chained CTEs (recursive CTEs can't re-aggregate per step
    portably). Per-iteration round(_, 10) on both engines is what makes an
    iterative float algorithm value-hash-checkable.

    Every multiply-referenced CTE is AS MATERIALIZED: DuckDB inlines CTEs
    by default, and each rank step references its predecessor three times
    (dangling + contribution + carry), so inlining re-evaluates r0 3^10
    times — the un-materialized form effectively hangs."""
    sql = (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "e AS MATERIALIZED (SELECT src AS s, dst AS dd, CAST(COUNT(*) AS DOUBLE) AS w "
        "FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "outd AS (SELECT s, SUM(w) AS o FROM e GROUP BY 1), "
        "norm AS MATERIALIZED (SELECT e.s, e.dd, e.w / outd.o AS pr FROM e JOIN outd ON e.s = outd.s), "
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT s AS node FROM e "
        "UNION SELECT dd FROM e) u), "
        "cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), "
        "srcs AS MATERIALIZED (SELECT DISTINCT s AS node FROM norm), "
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes)"
    )
    for t in range(iterations):
        prev, cur = f"r{t}", f"r{t + 1}"
        sql += (
            f", dang{t} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0) AS m FROM {prev} "
            f"WHERE node NOT IN (SELECT node FROM srcs))"
            f", c{t} AS MATERIALIZED (SELECT norm.dd AS node, SUM({prev}.rank * norm.pr) AS c "
            f"FROM norm JOIN {prev} ON norm.s = {prev}.node GROUP BY 1)"
            f", {cur} AS MATERIALIZED (SELECT nodes.node, round((1 - {d}) / cnt.n + {d} * "
            f"(COALESCE(c{t}.c, 0) + dang{t}.m / cnt.n), 10) AS rank "
            f"FROM nodes CROSS JOIN cnt CROSS JOIN dang{t} "
            f"LEFT JOIN c{t} ON nodes.node = c{t}.node)"
        )
    return sql + f" SELECT node, rank FROM r{iterations}"



# ---------------------------------------------------------------------------
# the registry: one record per query
# ---------------------------------------------------------------------------

#: Registration order is rough grouping only; ``_SAMPLING_PRIORITY`` below
#: imposes the driver-sampling order. Sketch queries pass ``hash="portable"``
#: (md5-derived, functions/portable.py) so their oracles replay the sketch
#: bit-for-bit.
_QUERIES: tuple[Query, ...] = (
    Query("binned_quantiles", ("events",), analytics.binned_quantiles, (
        "WITH b AS (SELECT CAST(floor(value / CAST(0.5 AS DOUBLE)) AS BIGINT) AS bin, COUNT(*) AS c "
        "FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1), "
        "cw AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b), "
        "t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_values FROM b) "
        "SELECT n_values, "
        "round(MIN(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n_values) THEN bin END) "
        "* CAST(0.5 AS DOUBLE), 6) AS q50_lo, "
        "round(MIN(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n_values) THEN bin END) "
        "* CAST(0.5 AS DOUBLE), 6) AS q90_lo, "
        "round(MIN(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n_values) THEN bin END) "
        "* CAST(0.5 AS DOUBLE), 6) AS q99_lo "
        "FROM cw CROSS JOIN t GROUP BY n_values"
    )),
    Query("rec_coverage", ("events",), partial(graph.rec_coverage, k=3), (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "t AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions "
        "FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "r AS (SELECT src, dst, row_number() OVER (PARTITION BY src "
        "ORDER BY n_transitions DESC, dst ASC) AS rk FROM t), "
        "s AS (SELECT CAST(SUM(n_transitions) AS BIGINT) AS n_transitions, "
        "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM r WHERE r.src = t.src "
        "AND r.dst = t.dst AND r.rk <= 3) THEN n_transitions ELSE 0 END) AS BIGINT) AS n_covered "
        "FROM t) "
        "SELECT n_transitions, COALESCE(n_covered, 0) AS n_covered, "
        "round(COALESCE(n_covered, 0) / CAST(n_transitions AS DOUBLE), 6) AS coverage "
        "FROM s WHERE n_transitions IS NOT NULL"
    )),
    # Spark propagates min labels; the oracle closes the same graph with a recursive CTE.
    Query("item_communities", ("events",), graph.item_communities, (
        "WITH RECURSIVE ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "t AS (SELECT src, dst, COUNT(*) AS c FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "pr AS (SELECT src, dst FROM t WHERE c >= 2 AND src <> dst), "
        "edges AS (SELECT src AS s, dst AS d FROM pr UNION SELECT dst, src FROM pr), "
        "reach(id, r) AS (SELECT s, s FROM edges "
        "UNION SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.id = e.d) "
        "SELECT id AS itemid, MIN(r) AS community_id FROM reach GROUP BY id"
    )),
    Query(
        "split_balance",
        ("documents",),
        partial(curation.split_balance, fractions={"train": 0.9, "val": 0.05, "test": 0.05}),
        (
            "WITH h AS (SELECT doc_id, source, "
            f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
            "% 1000000 AS hv FROM documents), "
            "sp AS (SELECT source, CASE WHEN hv < 900000 THEN 'train' "
            "WHEN hv < 950000 THEN 'val' ELSE 'test' END AS split FROM h), "
            "cell AS (SELECT split, source, COUNT(*) AS n FROM sp GROUP BY 1, 2), "
            "r AS (SELECT split, SUM(n) AS rt FROM cell GROUP BY split), "
            "c AS (SELECT source, SUM(n) AS ct FROM cell GROUP BY source), "
            "t AS (SELECT SUM(n) AS tt FROM cell) "
            "SELECT cell.split, cell.source, CAST(cell.n AS BIGINT) AS n, "
            "round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS expected, "
            "round((CAST(cell.n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE)) "
            "* (CAST(cell.n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE)) "
            "/ (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(tt AS DOUBLE)), 6) AS chi2_contribution "
            "FROM cell JOIN r USING (split) JOIN c USING (source) CROSS JOIN t"
        ),
    ),
    # Span grain: shared boilerplate shows up in 8-token windows long before whole docs collide.
    Query(
        "cross_source_duplication",
        ("documents",),
        partial(dedup.cross_source_duplication, grain="span", span_tokens=8),
        (
            f"WITH tk AS (SELECT source, {_TOKS_SQL} AS toks FROM documents), "
            "fp AS (SELECT source, md5(array_to_string(list_slice(toks, i, i+7), ' ')) AS f "
            "FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-7)) AS t(i) "
            "WHERE len(toks) >= 8), "
            "ut AS (SELECT DISTINCT f, source FROM fp), "
            "per AS (SELECT source, COUNT(*) AS n FROM ut GROUP BY source), "
            "b AS (SELECT a.source AS source_a, c.source AS source_b, "
            "CAST(COUNT(*) AS BIGINT) AS fingerprints_shared FROM ut a "
            "JOIN ut c ON a.f = c.f AND a.source < c.source GROUP BY 1, 2) "
            "SELECT source_a, source_b, CAST(pa.n AS BIGINT) AS fingerprints_a, "
            "CAST(pb.n AS BIGINT) AS fingerprints_b, fingerprints_shared, "
            "round(fingerprints_shared / CAST(pa.n + pb.n - fingerprints_shared AS DOUBLE), 6) AS jaccard "
            "FROM b JOIN per pa ON pa.source = b.source_a "
            "JOIN per pb ON pb.source = b.source_b"
        ),
    ),
    Query("quality_dup_calibration", ("documents",), curation.quality_dup_calibration, (
        f"WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents), "
        "s AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS token_count, "
        "CAST(length(text) AS BIGINT) AS char_count, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) AS stopword_count, "
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_count FROM t), "
        "q AS (SELECT doc_id, round(0.5 * least(CAST(token_count AS DOUBLE) / 50, 1.0) "
        "+ 0.3 * (1.0 - CAST(stopword_count AS DOUBLE) / token_count) "
        "+ 0.2 * (1.0 - CAST(punct_count AS DOUBLE) / char_count), 6) AS quality_score, "
        f"md5({_NORM_TEXT_SQL}) AS fp FROM s), "
        "m AS (SELECT least(CAST(floor(quality_score * 10) AS BIGINT), 9) AS bin, "
        "CASE WHEN COUNT(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS dup FROM q "
        "WHERE quality_score IS NOT NULL) "
        "SELECT bin, round(CAST(bin AS DOUBLE) / 10.0, 6) AS bin_start, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dup) AS BIGINT) AS n_dup_docs, "
        "round(SUM(dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate "
        "FROM m GROUP BY bin"
    )),
    # Spark sums at count-value grain; the oracle keeps the naive per-item row_number spelling.
    Query("gini_concentration", ("events",), analytics.gini_concentration, (
        "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "c AS (SELECT itemid, COUNT(*) AS cnt FROM ev WHERE itemid IS NOT NULL GROUP BY itemid), "
        "r AS (SELECT cnt, row_number() OVER (ORDER BY cnt ASC, itemid ASC) AS i FROM c), "
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(cnt) AS BIGINT) AS total_events, "
        "SUM(CAST(i AS HUGEINT) * cnt) AS t FROM r) "
        "SELECT n_items, total_events, "
        "round(2.0 * CAST(t AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(total_events AS DOUBLE)) "
        "- (CAST(n_items AS DOUBLE) + 1.0) / CAST(n_items AS DOUBLE), 6) + 0.0 AS gini "
        "FROM s"
    )),
    Query("burstiness", ("events",), analytics.burstiness, (
        "WITH ev AS (SELECT ts AS event_time, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "pm AS (SELECT itemid, date_trunc('minute', event_time) AS m, COUNT(*) AS c "
        "FROM ev WHERE itemid IS NOT NULL GROUP BY 1, 2), "
        "g AS (SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_minutes, "
        "CAST(SUM(c) AS BIGINT) AS n_events, CAST(SUM(c * c) AS BIGINT) AS ssq FROM pm GROUP BY itemid) "
        "SELECT itemid, n_minutes, n_events, "
        "round(((CAST(ssq AS DOUBLE) - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) "
        "/ CAST(n_minutes AS DOUBLE)) / CAST(n_minutes AS DOUBLE)) "
        "/ (CAST(n_events AS DOUBLE) / CAST(n_minutes AS DOUBLE)), 6) + 0.0 AS dispersion "
        "FROM g ORDER BY n_events DESC, itemid ASC LIMIT 100"
    )),
    Query("novelty_rate", ("events",), analytics.novelty_rate, (
        "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, "
        "date_trunc('day', ts) AS d FROM events), "
        "e2 AS (SELECT itemid, d FROM ev WHERE itemid IS NOT NULL), "
        "f AS (SELECT itemid, MIN(d) AS fd FROM e2 GROUP BY itemid), "
        "daily AS (SELECT DISTINCT itemid, d FROM e2) "
        "SELECT CAST(d AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_items, "
        "CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new_items, "
        "round(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty "
        "FROM daily JOIN f USING (itemid) GROUP BY d"
    )),
    Query("source_vocab_overlap", ("documents",), text.source_vocab_overlap, (
        f"WITH tk AS (SELECT source, {_TOKS_SQL} AS toks FROM documents), "
        "ut AS (SELECT DISTINCT source, t FROM tk, LATERAL UNNEST(toks) AS u(t) WHERE t <> ''), "
        "per AS (SELECT source, COUNT(*) AS n FROM ut GROUP BY source), "
        "b AS (SELECT a.source AS source_a, c.source AS source_b, "
        "CAST(COUNT(*) AS BIGINT) AS vocab_shared FROM ut a "
        "JOIN ut c ON a.t = c.t AND a.source < c.source GROUP BY 1, 2) "
        "SELECT source_a, source_b, CAST(pa.n AS BIGINT) AS vocab_a, "
        "CAST(pb.n AS BIGINT) AS vocab_b, vocab_shared, "
        "round(vocab_shared / CAST(pa.n + pb.n - vocab_shared AS DOUBLE), 6) AS jaccard "
        "FROM b JOIN per pa ON pa.source = b.source_a "
        "JOIN per pb ON pb.source = b.source_b"
    )),
    # The oracle keeps the DISTINCT + self-join spelling to pin the one-pass collect_set rewrite.
    Query("audience_overlap", ("events",), analytics.audience_overlap, (
        "WITH ue AS (SELECT DISTINCT user_id AS visitorid, event_type AS event FROM events), "
        "per AS (SELECT event, COUNT(*) AS n FROM ue GROUP BY event), "
        "b AS (SELECT a.event AS event_a, c.event AS event_b, "
        "CAST(COUNT(*) AS BIGINT) AS users_both FROM ue a "
        "JOIN ue c ON a.visitorid = c.visitorid AND a.event < c.event GROUP BY 1, 2) "
        "SELECT event_a, event_b, CAST(pa.n AS BIGINT) AS users_a, "
        "CAST(pb.n AS BIGINT) AS users_b, users_both, "
        "round(users_both / CAST(pa.n + pb.n - users_both AS DOUBLE), 6) AS jaccard "
        "FROM b JOIN per pa ON pa.event = b.event_a "
        "JOIN per pb ON pb.event = b.event_b"
    )),
    # Spark fits at count-value grain; the oracle keeps the naive per-item rank() + regr_slope spelling.
    Query("zipf_slope", ("events",), analytics.zipf_slope, (
        "WITH ev AS (SELECT CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "c AS (SELECT itemid, COUNT(*) AS cnt FROM ev WHERE itemid IS NOT NULL GROUP BY itemid), "
        "r AS (SELECT ln(CAST(cnt AS DOUBLE)) AS y, "
        "ln(CAST(rank() OVER (ORDER BY cnt DESC) AS DOUBLE)) AS x FROM c) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_items, "
        "round(regr_slope(y, x), 6) + 0.0 AS slope, "
        "round(regr_intercept(y, x), 6) + 0.0 AS intercept, "
        "round(regr_r2(y, x), 6) + 0.0 AS r2 FROM r"
    )),
    Query("transition_entropy", ("events",), graph.transition_entropy, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "t AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM p "
        "WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "g AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n_out, "
        "CAST(COUNT(*) AS BIGINT) AS n_dst, "
        "SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS snlogn FROM t GROUP BY src) "
        "SELECT src, n_out, n_dst, "
        "round(ln(CAST(n_out AS DOUBLE)) - snlogn / CAST(n_out AS DOUBLE), 6) + 0.0 AS entropy "
        "FROM g ORDER BY n_out DESC, src ASC LIMIT 100"
    )),
    Query("norm_profile", ("embeddings",), similarity.norm_profile, (
        "WITH n AS (SELECT label, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings) "
        "SELECT label, CAST(COUNT(nrm) AS BIGINT) AS n_vectors, "
        "round(MIN(nrm), 6) AS min_norm, round(MAX(nrm), 6) AS max_norm, "
        "round(CAST(AVG(CAST(nrm AS DECIMAL(28,10))) AS DOUBLE), 6) AS avg_norm "
        "FROM n GROUP BY label"
    )),
    Query("cluster_inertia", ("embeddings",), similarity.cluster_inertia, (
        "WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x, "
        "unnest(generate_series(0, len(embedding) - 1)) AS idx FROM embeddings), "
        "a AS (SELECT label, idx, COUNT(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS s FROM e GROUP BY label, idx), "
        "c AS (SELECT label, idx, CAST(CAST(round(round(s / n, 6) * 1000000) AS BIGINT) "
        "AS DOUBLE) / 1000000.0 AS cc FROM a), "
        "nv AS (SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors FROM a GROUP BY label), "
        "d AS (SELECT e.label, round(CAST(SUM(CAST((x - cc) * (x - cc) AS DECIMAL(38,12))) "
        "AS DOUBLE), 6) AS inertia FROM e JOIN c ON e.label = c.label AND e.idx = c.idx "
        "GROUP BY e.label) "
        "SELECT d.label, nv.n_vectors, inertia FROM d JOIN nv ON d.label = nv.label"
    )),
    # TPC-H Q20 shape: ramping suppliers through nested semi-joins.
    Query(
        "tpch_q20_potential_promotion",
        ("lineitem", "part", "supplier", "nation"),
        relational.potential_part_promotion,
        (
            # textbook correlated-IN spelling to pin the semi-join rewrite
            "WITH red_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'), "
            "ps AS (SELECT l_suppkey, l_partkey, "
            "SUM(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01' "
            "AND l_shipdate < TIMESTAMP '2001-01-01' "
            "THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS qty_yr, "
            "SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_all "
            "FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM red_parts) "
            "GROUP BY 1, 2) "
            "SELECT s_name, s_acctbal FROM supplier "
            "WHERE s_suppkey IN (SELECT l_suppkey FROM ps WHERE qty_yr * 5 > qty_all) "
            "AND s_nationkey IN (SELECT n_nationkey FROM nation "
            "WHERE n_name IN ('NATION_7', 'NATION_8', 'NATION_9')) "
            "ORDER BY s_name"
        ),
    ),
    Query(
        "mask_duplicate_spans", ("documents",), partial(dedup.mask_duplicate_spans, span_tokens=16),
        (
            f"WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
            "sl AS (SELECT doc_id, i AS pos, "
            "array_to_string(list_slice(toks, i, i+15), ' ') AS span "
            "FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-15)) AS t(i) "
            "WHERE len(toks) >= 16), "
            "dup AS (SELECT span FROM sl GROUP BY span HAVING COUNT(*) >= 2), "
            "d2 AS (SELECT sl.doc_id, sl.pos, sl.span FROM sl JOIN dup USING (span)), "
            "fst AS (SELECT span, doc_id AS fd, pos AS fp FROM d2 "
            "QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1), "
            "nonfirst AS (SELECT d2.doc_id, d2.pos FROM d2 JOIN fst USING (span) "
            "WHERE NOT (d2.doc_id = fst.fd AND d2.pos = fst.fp)), "
            "cov AS (SELECT DISTINCT doc_id, pos + j AS ti FROM nonfirst, "
            "LATERAL UNNEST(generate_series(0, 15)) AS g(j)), "
            "pc AS (SELECT doc_id, list(ti) AS cov_l, COUNT(*) AS n_m FROM cov GROUP BY doc_id) "
            "SELECT tk.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
            "CAST(COALESCE(n_m, 0) AS BIGINT) AS n_masked_tokens, "
            # array_to_string([]) is NULL in DuckDB, '' in Spark's concat_ws
            "md5(COALESCE(array_to_string(list_transform("
            "list_filter(range(1, len(toks) + 1), "
            "i -> NOT list_contains(COALESCE(cov_l, []), i)), "
            "i -> toks[i]), ' '), '')) AS cleaned_digest "
            "FROM tk LEFT JOIN pc ON tk.doc_id = pc.doc_id"
        ),
    ),
    Query("collocations", ("documents",), partial(text.collocations, k=100, min_count=5), (
        # HUGEINT (int128) mirrors Spark's DECIMAL(38,0) product; // is
        # floor division = Spark DIV on positives
        f"WITH tk AS (SELECT {_TOKS_SQL} AS toks FROM documents), "
        "uni AS (SELECT t AS tok, COUNT(*) AS c FROM tk, "
        "LATERAL UNNEST(toks) AS u(t) WHERE t <> '' GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM uni), "
        "pr AS (SELECT toks[i] AS a, toks[i+1] AS b, COUNT(*) AS np "
        "FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-1)) AS g(i) "
        "WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i+1] <> '' "
        "GROUP BY 1, 2 HAVING COUNT(*) >= 5) "
        "SELECT pr.a AS token_a, pr.b AS token_b, CAST(np AS BIGINT) AS n_pair, "
        "CAST((CAST(np AS HUGEINT) * n * 1000000) // "
        "(CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)) AS BIGINT) AS score_ppm "
        "FROM pr JOIN uni ua ON pr.a = ua.tok JOIN uni ub ON pr.b = ub.tok "
        "CROSS JOIN tot "
        "ORDER BY score_ppm DESC, token_a ASC, token_b ASC LIMIT 100"
    )),
    Query("type_token_ratio", ("documents",), partial(text.type_token_ratio, by="source"), (
        f"WITH tk AS (SELECT source, doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "ex AS (SELECT source, doc_id, t FROM tk, "
        "LATERAL UNNEST(toks) AS u(t) WHERE t <> '') "
        "SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(COUNT(*) AS BIGINT) AS n_tokens, "
        "CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types, "
        "CAST((COUNT(DISTINCT t) * 1000000) // COUNT(*) AS BIGINT) AS ttr_ppm "
        "FROM ex GROUP BY 1"
    )),
    Query("select_token_budget", ("documents",), _q_select_token_budget, (
        f"WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents), "
        "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS token_count, "
        "CAST(length(text) AS BIGINT) AS char_count, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) AS stopword_count, "
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_count "
        "FROM t), "
        "q AS (SELECT doc_id, token_count, "
        "round(0.5 * least(CAST(token_count AS DOUBLE) / 50, 1.0) "
        "+ 0.3 * (1.0 - CAST(stopword_count AS DOUBLE) / token_count) "
        "+ 0.2 * (1.0 - CAST(punct_count AS DOUBLE) / char_count), 6) AS quality_score "
        "FROM s), "
        "r AS (SELECT doc_id, token_count, quality_score, "
        "SUM(token_count) OVER (ORDER BY quality_score DESC, doc_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens FROM q) "
        "SELECT doc_id, token_count, quality_score, "
        "CAST(cum_tokens AS BIGINT) AS cum_tokens "
        "FROM r WHERE cum_tokens <= 10000"
    )),
    Query("shuffle_shards", ("documents",), partial(curation.shuffle_shards, n_shards=64), (
        "WITH h AS (SELECT doc_id, "
        + portable.phash60_sql("'7:' || CAST(doc_id AS VARCHAR)")
        + " AS hh FROM documents) "
        "SELECT doc_id, CAST(hh % 64 AS INTEGER) AS shard, "
        "CAST(row_number() OVER (PARTITION BY hh % 64 "
        "ORDER BY hh, doc_id) AS BIGINT) AS pos_in_shard FROM h"
    )),
    Query("rare_bigram_rate", ("documents",), partial(text.rare_bigram_rate, rare_below=3), (
        f"WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram "
        "FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-1)) AS t(i) "
        "WHERE len(toks) >= 2), "
        "c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY 1), "
        "f AS (SELECT g.doc_id, COUNT(*) AS nb, "
        "SUM(CASE WHEN c.cnt < 3 THEN 1 ELSE 0 END) AS nr "
        "FROM g JOIN c USING (gram) GROUP BY 1) "
        "SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams, "
        "CAST(COALESCE(nr, 0) AS BIGINT) AS n_rare, "
        "CAST(COALESCE((nr * 1000000) // nb, 0) AS BIGINT) AS rare_ppm "
        "FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id"
    )),
    Query("pack_efficiency", ("documents",), _q_pack_efficiency, (
        f"WITH t AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS token_count FROM documents), "
        "r AS (SELECT doc_id, token_count, "
        "CAST(SUM(token_count) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t), "
        "p AS (SELECT token_count, cum - token_count AS start_offset, "
        "(cum - token_count) // 512 AS pack_id FROM r) "
        "SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(token_count) AS BIGINT) AS pack_tokens, "
        "CAST(SUM(LEAST(start_offset + token_count, (pack_id + 1) * 512) - start_offset) AS BIGINT) AS tokens_in_window, "
        "CAST(SUM(GREATEST(start_offset + token_count - (pack_id + 1) * 512, 0)) AS BIGINT) AS spill_tokens, "
        "CAST((SUM(LEAST(start_offset + token_count, (pack_id + 1) * 512) - start_offset) * 1000000) // 512 AS BIGINT) AS fill_ppm "
        "FROM p GROUP BY 1"
    )),
    Query(
        "dedup_agreement",
        ("documents",),
        partial(dedup.dedup_method_agreement, threshold=0.7, hash="portable"),
        (
            f"WITH {_minhash_cte()}, "
            "mh_pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7), "
            f"fp AS (SELECT doc_id, md5({_NORM_TEXT_SQL}) AS f FROM documents), "
            "ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b "
            "FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id), "
            "tagged AS (SELECT COALESCE(e.one, 0) AS e, COALESCE(m.one, 0) AS m "
            "FROM (SELECT doc_a, doc_b, 1 AS one FROM ex) e "
            "FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS one FROM mh_pairs) m "
            "USING (doc_a, doc_b)) "
            "SELECT CAST(SUM(e) AS BIGINT) AS n_exact_pairs, "
            "CAST(SUM(m) AS BIGINT) AS n_minhash_pairs, "
            "CAST(SUM(e * m) AS BIGINT) AS n_both, "
            "CAST(SUM(e * (1 - m)) AS BIGINT) AS n_exact_only, "
            "CAST(SUM((1 - e) * m) AS BIGINT) AS n_minhash_only, "
            "CAST(COALESCE((SUM(e * m) * 1000000) // "
            "(SUM(e) + SUM(m) - SUM(e * m)), 0) AS BIGINT) AS agreement_ppm "
            "FROM tagged"
        ),
    ),
    Query("nearest_centroid", ("embeddings",), similarity.nearest_centroid_classify, (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "ex AS (SELECT label, unnest(v) AS x, "
        "unnest(generate_series(0, len(v) - 1)) AS idx FROM e), "
        "a AS (SELECT label AS clabel, idx, COUNT(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS s FROM ex GROUP BY 1, 2), "
        "c AS (SELECT clabel, list(CAST(round(round(s / n, 6) * 1000000) AS BIGINT) "
        "/ 1000000.0 ORDER BY idx) AS cv FROM a GROUP BY 1), "
        "sc AS (SELECT vec_id, label, clabel, "
        "round(list_dot_product(v, cv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS score "
        "FROM e CROSS JOIN c) "
        "SELECT vec_id, label, CAST(clabel AS INTEGER) AS pred_label, score FROM sc "
        "QUALIFY row_number() OVER (PARTITION BY vec_id "
        "ORDER BY score DESC, clabel ASC) = 1"
    )),
    Query("incremental_dedup", ("documents",), _q_incremental_dedup, (
        "WITH seen AS (SELECT DISTINCT "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS sfp "
        "FROM documents WHERE doc_id % 3 <> 0), "
        "batch AS (SELECT doc_id, source, "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp "
        "FROM documents WHERE doc_id % 3 = 0), "
        "fresh AS (SELECT * FROM batch WHERE NOT EXISTS "
        "(SELECT 1 FROM seen WHERE sfp = fp)), "
        "keep AS (SELECT MIN(doc_id) AS kid FROM fresh GROUP BY fp) "
        "SELECT doc_id, source FROM fresh WHERE EXISTS "
        "(SELECT 1 FROM keep WHERE kid = doc_id)"
    )),
    Query("item_trend", ("events",), analytics.item_trend, (
        f"WITH {_EV}, "
        "daily AS (SELECT itemid, "
        "date_diff('day', DATE '1995-01-01', CAST(date_trunc('day', event_time) AS DATE)) AS x, "
        "COUNT(*) AS y FROM ev WHERE itemid IS NOT NULL GROUP BY 1, 2), "
        "st AS (SELECT itemid, COUNT(*) AS n_days, SUM(y) AS total_events, "
        "SUM(x) AS sx, SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM daily GROUP BY 1) "
        "SELECT itemid, CAST(n_days AS BIGINT) AS n_days, "
        "CAST(total_events AS BIGINT) AS total_events, "
        "CASE WHEN n_days >= 2 AND "
        "CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 "
        "THEN round((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(total_events AS DOUBLE)) / "
        "(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END AS slope FROM st"
    )),
    Query("discount_elasticity", ("lineitem", "part"), relational.discount_elasticity, (
        "WITH st AS (SELECT p_type, COUNT(*) AS n_lines, "
        "SUM(CAST(l_discount AS DECIMAL(18,4))) AS sx, "
        "SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sy, "
        "SUM(CAST(l_discount AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS sxy, "
        "SUM(CAST(l_discount AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS sxx, "
        "SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS syy "
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1) "
        "SELECT p_type, CAST(n_lines AS BIGINT) AS n_lines, "
        "round(CAST(sx AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS avg_discount, "
        "round(CAST(sy AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS avg_quantity, "
        "CASE WHEN CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 "
        "AND CAST(n_lines AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 "
        "THEN round((CAST(n_lines AS DOUBLE) * CAST(sxy AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        "sqrt((CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE) - "
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        "(CAST(n_lines AS DOUBLE) * CAST(syy AS DOUBLE) - "
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS corr_disc_qty FROM st"
    )),
    # Batch closed form of the streaming decayed heavy hitters (streaming/stateful.py).
    Query("trending_items", ("events",), analytics.trending_items, (
        f"WITH {_EV}, "
        "wl AS (SELECT itemid, event_time, "
        "MAX(event_time) OVER (PARTITION BY itemid) AS last_t "
        "FROM ev WHERE itemid IS NOT NULL) "
        "SELECT itemid, MAX(last_t) AS last_event_time, "
        "round(SUM(exp(-0.00019254052769448875 * "
        "((epoch_us(last_t) - epoch_us(event_time)) / 1000000.0))), 6) "
        "AS decayed_count, COUNT(*) AS raw_events FROM wl GROUP BY itemid"
    )),
    Query("conversion_latency", ("events",), analytics.conversion_latency_histogram, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "carried AS (SELECT *, last_value(CASE WHEN event = 'view' "
        "THEN event_time END IGNORE NULLS) OVER (PARTITION BY visitorid "
        "ORDER BY event_time, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt FROM ev2) "
        "SELECT CASE WHEN lt IS NULL THEN CAST(-1 AS BIGINT) "
        "ELSE CAST(floor(((epoch_us(event_time) - epoch_us(lt)) / 1000000.0) / 60) AS BIGINT) "
        "END AS latency_bin, COUNT(*) AS n_conversions "
        "FROM carried WHERE event = 'purchase' GROUP BY 1"
    )),
    Query("events_per_minute_dense", ("events",), analytics.events_per_minute_dense, (
        f"WITH {_EV}, "
        "sparse AS (SELECT date_trunc('minute', event_time) AS minute, "
        "COUNT(*) AS c FROM ev GROUP BY 1), "
        "bounds AS (SELECT date_trunc('minute', MIN(event_time)) AS lo, "
        "date_trunc('minute', MAX(event_time)) AS hi FROM ev), "
        "spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) "
        "AS minute FROM bounds) "
        "SELECT spine.minute, CAST(COALESCE(c, 0) AS BIGINT) AS events_count "
        "FROM spine LEFT JOIN sparse ON spine.minute = sparse.minute"
    )),
    Query("item_lift", ("events",), _q_item_lift, (
        f"WITH {_SESSIONIZED}, "
        "its AS (SELECT sessionized.session_id, "
        "list_slice(list_sort(list_distinct(list(itemid))), 1, 50) AS items "
        "FROM sessionized WHERE itemid IS NOT NULL GROUP BY sessionized.session_id), "
        "total AS (SELECT COUNT(*) AS N FROM its), "
        "sup AS (SELECT itemid, COUNT(*) AS s FROM "
        "(SELECT session_id, unnest(items) AS itemid FROM its) GROUP BY 1), "
        "pairs AS (SELECT items[i] AS item_a, items[j] AS item_b "
        "FROM its, LATERAL UNNEST(generate_series(1, len(items))) t1(i), "
        "LATERAL UNNEST(generate_series(1, len(items))) t2(j) WHERE j > i), "
        "pc AS (SELECT item_a, item_b, COUNT(*) AS n_both FROM pairs "
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2) "
        "SELECT item_a, item_b, CAST(n_both AS BIGINT) AS n_both, "
        "round((CAST(n_both AS DOUBLE) * CAST(N AS DOUBLE)) / "
        "(CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift "
        "FROM pc JOIN sup sa ON item_a = sa.itemid "
        "JOIN sup sb ON item_b = sb.itemid, total "
        "ORDER BY n_both DESC, item_a ASC, item_b ASC LIMIT 100"
    )),
    Query("events_column_profile", ("events",), analytics.column_profile, (
        "WITH ev3 AS (SELECT user_id AS visitorid, event_type AS event, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, value "
        "FROM events) "
        "SELECT 'visitorid' AS \"column\", COUNT(*) AS n_rows, "
        "CAST(SUM(CASE WHEN visitorid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        "COUNT(DISTINCT visitorid) AS n_distinct FROM ev3 "
        "UNION ALL SELECT 'event', COUNT(*), "
        "CAST(SUM(CASE WHEN event IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
        "COUNT(DISTINCT event) FROM ev3 "
        "UNION ALL SELECT 'itemid', COUNT(*), "
        "CAST(SUM(CASE WHEN itemid IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
        "COUNT(DISTINCT itemid) FROM ev3 "
        "UNION ALL SELECT 'value', COUNT(*), "
        "CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT), "
        "COUNT(DISTINCT value) FROM ev3"
    )),
    Query("linear_attribution", ("events",), analytics.linear_attribution, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
        "FROM ev2 WHERE event = 'purchase'), "
        "touch AS (SELECT visitorid AS tv, event_time AS tt, itemid "
        "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
        "pairs AS (SELECT cid, itemid FROM conv JOIN touch ON cv = tv "
        "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
        "fan AS (SELECT cid AS fcid, COUNT(*) AS n FROM pairs GROUP BY 1) "
        "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
        "round(CAST(SUM(CAST(round(1.0 / n, 12) AS DECIMAL(18,12))) AS DOUBLE), 6) "
        "AS credit FROM pairs JOIN fan ON cid = fcid GROUP BY itemid"
    )),
    Query("hourly_seasonality", ("events",), analytics.hourly_seasonality, (
        f"WITH {_EV}, "
        "cells AS (SELECT CAST(isodow(event_time) AS INTEGER) AS dow, "
        "CAST(hour(event_time) AS INTEGER) AS hour, COUNT(*) AS events_count "
        "FROM ev GROUP BY 1, 2) "
        "SELECT dow, hour, events_count, "
        "round(CAST(events_count AS DOUBLE) / "
        "(SELECT CAST(SUM(events_count) AS DOUBLE) FROM cells), 6) AS share "
        "FROM cells"
    )),
    Query("timed_funnel", ("events",), analytics.timed_funnel, (
        f"WITH {_EV}, "
        "s1 AS (SELECT visitorid, MIN(event_time) AS t1 FROM ev "
        "WHERE event = 'view' GROUP BY 1), "
        "s2 AS (SELECT e.visitorid, MIN(event_time) AS t2 FROM ev e "
        "JOIN s1 ON e.visitorid = s1.visitorid WHERE event = 'click' "
        "AND event_time > t1 AND event_time <= t1 + INTERVAL 1800 SECOND "
        "GROUP BY 1), "
        "s3 AS (SELECT e.visitorid, MIN(event_time) AS t3 FROM ev e "
        "JOIN s2 ON e.visitorid = s2.visitorid WHERE event = 'purchase' "
        "AND event_time > t2 AND event_time <= t2 + INTERVAL 86400 SECOND "
        "GROUP BY 1) "
        "SELECT (SELECT COUNT(*) FROM s1) AS users_step1, "
        "(SELECT COUNT(*) FROM s2) AS users_step2, "
        "(SELECT COUNT(*) FROM s3) AS users_step3"
    )),
    Query("concurrent_sessions", ("events",), analytics.concurrent_sessions, (
        f"WITH {_SESSIONIZED}, "
        "s AS (SELECT session_id, MIN(event_time) AS st, MAX(event_time) AS en "
        "FROM sessionized GROUP BY 1), "
        "m AS (SELECT unnest(generate_series(date_trunc('minute', st), "
        "date_trunc('minute', en), INTERVAL 1 MINUTE)) AS minute FROM s) "
        "SELECT minute, COUNT(*) AS active_sessions FROM m GROUP BY 1"
    )),
    Query("bot_flags", ("events",), analytics.bot_flags, (
        f"WITH {_EV}, "
        "pm AS (SELECT visitorid, date_trunc('minute', event_time) AS m, "
        "COUNT(*) AS c FROM ev GROUP BY 1, 2), "
        "pu AS (SELECT visitorid, SUM(c) AS total_events, "
        "COUNT(*) AS active_minutes, MAX(c) AS peak_per_minute FROM pm GROUP BY 1) "
        "SELECT visitorid, CAST(total_events AS BIGINT) AS total_events, "
        "CAST(active_minutes AS BIGINT) AS active_minutes, "
        "CAST(peak_per_minute AS BIGINT) AS peak_per_minute, "
        "peak_per_minute > 10 AND total_events >= 20 AS is_bot FROM pu"
    )),
    Query("vocab_coverage", ("documents",), partial(text.vocab_coverage, vocab_size=50), (
        "WITH tk AS (SELECT doc_id, "
        "unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token "
        "FROM documents), "
        "tk2 AS (SELECT * FROM tk WHERE token <> ''), "
        "vocab AS (SELECT token AS vtok FROM "
        "(SELECT token, COUNT(*) AS cnt FROM tk2 GROUP BY 1) "
        "ORDER BY cnt DESC, token ASC LIMIT 50), "
        "per AS (SELECT doc_id, COUNT(*) AS n_tokens, "
        "CAST(SUM(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens "
        "FROM tk2 LEFT JOIN vocab ON token = vtok GROUP BY 1) "
        "SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, "
        "CAST(COALESCE(oov_tokens, 0) AS BIGINT) AS oov_tokens, "
        "round(COALESCE(CAST(oov_tokens AS DOUBLE) / NULLIF(n_tokens, 0), 0.0), 6) "
        "AS oov_rate FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"
    )),
    Query("minute_anomalies", ("events",), analytics.minute_anomalies, (
        f"WITH {_EV}, "
        "pm AS (SELECT date_trunc('minute', event_time) AS minute, "
        "COUNT(*) AS events_count FROM ev GROUP BY 1), "
        "pmd AS (SELECT *, date_trunc('day', minute) AS day FROM pm), "
        "ds AS (SELECT day AS dday, COUNT(*) AS n, SUM(events_count) AS s, "
        "SUM(events_count * events_count) AS ss FROM pmd GROUP BY 1), "
        "j AS (SELECT minute, events_count, CASE WHEN n >= 2 AND "
        "n * ss - s * s > 0 THEN "
        "round((CAST(events_count AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / "
        "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) - 1.0)), 6) END AS zscore "
        "FROM pmd JOIN ds ON day = dday) "
        "SELECT minute, events_count, zscore, abs(zscore) > 2.0 AS is_anomaly FROM j"
    )),
    # TPC-H Q21 shape: solo-late suppliers via LEFT SEMI + LEFT ANTI on the same late set.
    Query(
        "tpch_q21_waiting_suppliers",
        ("lineitem", "orders", "supplier", "nation"),
        relational.waiting_suppliers,
        (
            "WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderstatus = 'F' "
            "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
            "SELECT s_name, COUNT(*) AS numwait FROM late l1 "
            "JOIN supplier ON l1.l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "AND n_name IN ('NATION_3','NATION_7') "
            "WHERE EXISTS (SELECT 1 FROM lineitem l2 "
            "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) "
            "AND NOT EXISTS (SELECT 1 FROM late l3 "
            "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey) "
            "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"
        ),
    ),
    # TPC-H Q2 shape over lineitem-derived unit costs (the fixture has no partsupp).
    Query(
        "tpch_q2_cheapest_supplier",
        ("lineitem", "part", "supplier", "nation"),
        relational.cheapest_supplier_per_part,
        (
            "WITH wanted AS (SELECT p_partkey FROM part "
            "WHERE p_type = 'PROMO' AND p_size <= 10), "
            "cost AS (SELECT l_partkey, l_suppkey, "
            "MIN(l_extendedprice / l_quantity) AS unit_cost "
            "FROM lineitem WHERE EXISTS (SELECT 1 FROM wanted "
            "WHERE p_partkey = l_partkey) GROUP BY 1, 2), "
            "mn AS (SELECT l_partkey AS pk, MIN(unit_cost) AS min_cost "
            "FROM cost GROUP BY 1) "
            "SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost "
            "FROM cost JOIN mn ON l_partkey = pk AND unit_cost = min_cost "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC LIMIT 100"
        ),
    ),
    # TPC-H Q11 shape: per-part value share against a broadcast grand-total threshold.
    Query(
        "tpch_q11_important_parts",
        ("lineitem", "supplier", "nation"),
        relational.important_part_values,
        (
            "WITH nat_supp AS (SELECT s_suppkey FROM supplier "
            "JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'), "
            "per_part AS (SELECT l_partkey, "
            "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
            "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS vald "
            "FROM lineitem WHERE EXISTS (SELECT 1 FROM nat_supp "
            "WHERE s_suppkey = l_suppkey) GROUP BY 1) "
            "SELECT l_partkey, CAST(vald AS DOUBLE) AS part_value FROM per_part, "
            "(SELECT CAST(SUM(vald) AS DOUBLE) * 0.001 AS cut FROM per_part) "
            "WHERE CAST(vald AS DOUBLE) > cut"
        ),
    ),
    # TPC-H Q16 shape: distinct-supplier counts with an anti-joined exclusion list.
    Query(
        "tpch_q16_part_supplier_counts",
        ("lineitem", "part", "supplier"),
        relational.part_supplier_counts,
        (
            "SELECT p_brand, p_type, p_size, "
            "COUNT(DISTINCT l_suppkey) AS supplier_cnt "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO' "
            "AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34) "
            "AND NOT EXISTS (SELECT 1 FROM supplier "
            "WHERE s_acctbal < 0 AND s_suppkey = l_suppkey) "
            "GROUP BY 1, 2, 3"
        ),
    ),
    # TPC-H Q6 shape: the filtered-scan aggregate that probes predicate pushdown.
    Query("tpch_q6_forecast_revenue", ("lineitem",), relational.forecast_revenue, (
        "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
    )),
    # TPC-H Q7 shape: the nation dim joined twice under different roles.
    Query(
        "tpch_q7_volume_shipping",
        ("lineitem", "orders", "customer", "supplier", "nation"),
        relational.volume_shipping,
        (
            "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
            "CAST(year(l_shipdate) AS INT) AS l_year, "
            f"{_DEC_REV} AS revenue "
            "FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation sn ON s_nationkey = sn.n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation cn ON c_nationkey = cn.n_nationkey "
            "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
            "AND l_shipdate < TIMESTAMP '1998-01-01' "
            "AND sn.n_name IN ('NATION_1', 'NATION_2') "
            "AND cn.n_name IN ('NATION_1', 'NATION_2') "
            "AND sn.n_name <> cn.n_name "
            "GROUP BY 1, 2, 3"
        ),
    ),
    # TPC-H Q8 shape: market share as a conditional-sum ratio in one aggregation.
    Query(
        "tpch_q8_market_share",
        ("lineitem", "orders", "customer", "supplier", "nation", "region", "part"),
        relational.market_share,
        (
            "SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
            "round(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN "
            "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) "
            "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
            "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6) AS mkt_share "
            "FROM lineitem "
            "JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO' "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation sn ON s_nationkey = sn.n_nationkey "
            "WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "AND EXISTS (SELECT 1 FROM customer "
            "JOIN nation cn ON c_nationkey = cn.n_nationkey "
            "JOIN region ON cn.n_regionkey = r_regionkey "
            "WHERE c_custkey = o_custkey AND r_name = 'ASIA') "
            "GROUP BY 1"
        ),
    ),
    # TPC-H Q9 shape: profit by supplier nation and order year for name-matched parts.
    Query(
        "tpch_q9_product_profit",
        ("lineitem", "orders", "supplier", "nation", "part"),
        relational.product_profit_by_nation,
        (
            "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
            f"{_DEC_REV} AS sum_profit "
            "FROM lineitem "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey "
            "AND p_name LIKE '%red%') "
            "GROUP BY 1, 2"
        ),
    ),
    # TPC-H Q10 shape: top-20 customers by returned revenue.
    Query(
        "tpch_q10_returned_items",
        ("lineitem", "orders", "customer", "nation"),
        relational.returned_item_revenue,
        (
            "SELECT c_custkey, c_name, c_acctbal, n_name, "
            f"{_DEC_REV} AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "WHERE l_returnflag = 'R' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1996-04-01' "
            "GROUP BY 1, 2, 3, 4 "
            "ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
        ),
    ),
    # TPC-H Q13 shape: order-count histogram, zero-order customers kept via LEFT OUTER.
    Query(
        "tpch_q13_order_distribution",
        ("orders", "customer"),
        relational.customer_order_distribution,
        (
            "WITH per_cust AS (SELECT c_custkey, "
            "CAST(COUNT(o_orderkey) AS BIGINT) AS c_count "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
            "AND o_orderpriority <> '1-URGENT' "
            "GROUP BY c_custkey) "
            "SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist "
            "FROM per_cust GROUP BY c_count"
        ),
    ),
    # TPC-H Q15 shape: argmax supplier with the scalar max as a 1-row broadcast.
    Query("tpch_q15_top_supplier", ("lineitem", "supplier"), relational.top_supplier, (
        "WITH per_supp AS (SELECT l_suppkey, "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue "
        "FROM per_supp JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE rev = (SELECT MAX(rev) FROM per_supp)"
    )),
    # TPC-H Q17 shape: below-average-quantity revenue, per-part average joined back.
    Query("tpch_q17_small_qty_revenue", ("lineitem", "part"), relational.small_qty_order_revenue, (
        "WITH bl AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem "
        "WHERE EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey "
        "AND p_brand = 'Brand#12')), "
        "pa AS (SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty FROM bl GROUP BY 1) "
        "SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 6) "
        "AS avg_weekly FROM bl JOIN pa ON l_partkey = pk "
        "WHERE l_quantity < 0.5 * avg_qty"
    )),
    # TPC-H Q18 shape: HAVING on a fact aggregate with customer attribution.
    Query(
        "tpch_q18_large_volume_customers",
        ("lineitem", "orders", "customer"),
        relational.large_volume_customers,
        (
            "WITH big AS (SELECT l_orderkey AS bok, SUM(l_quantity) AS total_qty "
            "FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250) "
            "SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty "
            "FROM big JOIN orders ON bok = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"
        ),
    ),
    # TPC-H Q19 shape: disjunctive-predicate join revenue.
    Query(
        "tpch_q19_disjunctive_revenue", ("lineitem", "part"), relational.disjunctive_part_revenue,
        (
            f"SELECT {_DEC_REV} AS revenue "
            "FROM lineitem JOIN part ON l_partkey = p_partkey "
            "WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10 "
            "AND l_quantity BETWEEN 1 AND 15) "
            "OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 20 "
            "AND l_quantity BETWEEN 10 AND 25) "
            "OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 30 "
            "AND l_quantity BETWEEN 20 AND 35)"
        ),
    ),
    # TPC-H Q22 shape: scalar-average broadcast + LEFT ANTI.
    Query(
        "tpch_q22_sales_opportunity",
        ("orders", "customer", "nation"),
        relational.global_sales_opportunity,
        (
            "WITH inn AS (SELECT c_custkey, c_acctbal, n_name "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "WHERE n_name IN ('NATION_5','NATION_7','NATION_9','NATION_11','NATION_13')), "
            "ab AS (SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS avg_bal "
            "FROM inn WHERE c_acctbal > 0) "
            "SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust, "
            "round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS totacctbal "
            "FROM inn, ab WHERE c_acctbal > avg_bal "
            "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
            "AND o_orderpriority = '1-URGENT') "
            "GROUP BY n_name"
        ),
    ),
    Query("token_frequencies", ("documents",), partial(text.token_frequencies, k=100), (
        f"WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents) "
        "SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "FROM tk WHERE token <> '' GROUP BY token "
        "ORDER BY n_occurrences DESC, token ASC LIMIT 100"
    )),
    Query(
        "dup_rate_by_source", ("documents",), partial(dedup.dup_rate_by_stratum, by=("source",)),
        (
            f"WITH fp AS (SELECT source, md5({_NORM_TEXT_SQL}) AS f FROM documents), "
            "g AS (SELECT source, f, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY 1, 2) "
            "SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_unique, "
            "round(CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n), 6) AS dup_rate "
            "FROM g GROUP BY source"
        ),
    ),
    Query("event_type_pivot", ("events",), analytics.event_type_pivot, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, "
        "CAST(SUM(CASE WHEN event = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, "
        "CAST(SUM(CASE WHEN event = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error, "
        "CAST(SUM(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, "
        "CAST(SUM(CASE WHEN event = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, "
        "CAST(SUM(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view "
        "FROM ev GROUP BY 1"
    )),
    Query("customer_value_deciles", ("orders",), analytics.customer_value_deciles, (
        "WITH spend AS (SELECT o_custkey AS custkey, "
        "SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s "
        "FROM orders GROUP BY 1) "
        "SELECT custkey, CAST(s AS DOUBLE) AS total_spend, "
        "CAST(ntile(10) OVER (ORDER BY s DESC, custkey ASC) AS INT) AS decile "
        "FROM spend"
    )),
    Query(
        "duplicate_spans", ("documents",), partial(dedup.duplicate_spans, span_tokens=16, k=100),
        (
            f"WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
            "el AS (SELECT doc_id, array_to_string(list_slice(toks, i, i+15), ' ') AS span_text "
            "FROM tk, LATERAL UNNEST(generate_series(1, len(toks)-15)) AS t(i) "
            "WHERE len(toks) >= 16) "
            "SELECT span_text, CAST(COUNT(*) AS BIGINT) AS n_occurrences, "
            "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
            "FROM el GROUP BY 1 HAVING COUNT(*) >= 2 "
            "ORDER BY n_occurrences DESC, span_text ASC LIMIT 100"
        ),
    ),
    Query("item_transitions", ("events",), graph.item_transitions, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL) "
        "SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions "
        "FROM p WHERE dst IS NOT NULL GROUP BY 1, 2"
    )),
    # Hash-checkable: both engines round ranks to 10 decimals per iteration, and the oracle unrolls the same 10.
    Query("item_pagerank", ("events",), _q_item_pagerank, _pagerank_oracle_sql()),
    # Both engines bucket by floor(ln(deg)/ln(2) + 1e-9), exact for deg < 2^30 (bounded by the item domain).
    Query("item_degree_profile", ("events",), graph.item_degree_profile, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "e AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM p "
        "WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "od AS (SELECT src AS item, CAST(COUNT(*) AS BIGINT) AS out_d, "
        "CAST(SUM(n) AS BIGINT) AS out_s FROM e GROUP BY 1), "
        "ind AS (SELECT dst AS item, CAST(COUNT(*) AS BIGINT) AS in_d, "
        "CAST(SUM(n) AS BIGINT) AS in_s FROM e GROUP BY 1), "
        "d AS (SELECT COALESCE(out_d, 0) + COALESCE(in_d, 0) AS deg, "
        "COALESCE(out_s, 0) + COALESCE(in_s, 0) AS str "
        "FROM od FULL OUTER JOIN ind ON od.item = ind.item) "
        "SELECT CAST(FLOOR(ln(CAST(deg AS DOUBLE)) / ln(2.0) + 1e-9) AS INT) "
        "AS degree_bucket, CAST(COUNT(*) AS BIGINT) AS n_items, "
        "MIN(deg) AS min_degree, MAX(deg) AS max_degree, "
        "CAST(SUM(str) AS BIGINT) AS incident_transitions "
        "FROM d GROUP BY 1 ORDER BY 1"
    )),
    # At the 0.4 threshold the operator bands 42 x r=3 (~94% recall); see _visitor_minhash_sql.
    Query(
        "similar_visitors",
        ("events",),
        partial(dedup.similar_visitors_minhash, threshold=0.4, hash="portable"),
        _visitor_minhash_sql(0.4),
    ),
    # Strict step order, not first-touch (compare first_touch_funnel).
    Query("sequential_funnel", ("events",), _q_sequential_funnel, (
        f"WITH {_SESSIONIZED}, "
        "s1 AS (SELECT session_id, visitorid, "
        "MIN(CASE WHEN event = 'view' THEN event_time END) AS t1 "
        "FROM sessionized GROUP BY 1, 2), "
        "s2 AS (SELECT e.session_id, e.visitorid, MIN(s1.t1) AS t1, "
        "MIN(CASE WHEN e.event = 'click' AND e.event_time > s1.t1 "
        "THEN e.event_time END) AS t2 "
        "FROM sessionized e JOIN s1 USING (session_id, visitorid) GROUP BY 1, 2), "
        "s3 AS (SELECT e.session_id, e.visitorid, MIN(s2.t1) AS t1, MIN(s2.t2) AS t2, "
        "MIN(CASE WHEN e.event = 'purchase' AND e.event_time > s2.t2 "
        "THEN e.event_time END) AS t3 "
        "FROM sessionized e JOIN s2 USING (session_id, visitorid) GROUP BY 1, 2) "
        "SELECT CAST(COUNT(t1) AS BIGINT) AS view_sessions, "
        "CAST(COUNT(t2) AS BIGINT) AS click_sessions, "
        "CAST(COUNT(t3) AS BIGINT) AS purchase_sessions FROM s3"
    )),
    Query("item_cooccurrence", ("events",), _q_item_cooccurrence, (
        f"WITH {_SESSIONIZED}, "
        "its AS (SELECT session_id, "
        "list_slice(list_sort(list_distinct(list(itemid))), 1, 50) AS items "
        "FROM sessionized WHERE itemid IS NOT NULL GROUP BY session_id), "
        "pairs AS (SELECT items[i] AS item_a, items[j] AS item_b FROM its, "
        "LATERAL UNNEST(generate_series(1, len(items))) t1(i), "
        "LATERAL UNNEST(generate_series(1, len(items))) t2(j) "
        "WHERE j > i) "
        "SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS n_sessions "
        "FROM pairs GROUP BY 1, 2 "
        "ORDER BY n_sessions DESC, item_a ASC, item_b ASC LIMIT 100"
    )),
    Query("order_gap_stats", ("orders",), relational.order_gap_stats, (
        "WITH l AS (SELECT o_custkey, o_orderdate, lag(o_orderdate) OVER "
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev "
        "FROM orders) "
        "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps, "
        "round(CAST(AVG(CAST(date_diff('day', prev, o_orderdate) AS DECIMAL(18,6))) "
        "AS DOUBLE), 6) AS avg_gap_days, "
        "CAST(MIN(date_diff('day', prev, o_orderdate)) AS INT) AS min_gap_days, "
        "CAST(MAX(date_diff('day', prev, o_orderdate)) AS INT) AS max_gap_days "
        "FROM l WHERE prev IS NOT NULL GROUP BY 1"
    )),
    Query("retention_cohorts", ("events",), analytics.retention_cohorts, (
        f"WITH {_EV}, "
        "act AS (SELECT DISTINCT visitorid, "
        "CAST(date_trunc('week', event_time) AS DATE) AS period FROM ev), "
        "coh AS (SELECT visitorid, MIN(period) AS cohort FROM act GROUP BY 1), "
        "sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size "
        "FROM coh GROUP BY 1), "
        "j AS (SELECT coh.cohort, CAST(date_diff('day', coh.cohort, act.period) / 7.0 "
        "AS BIGINT) AS period_offset, act.visitorid "
        "FROM act JOIN coh USING (visitorid)) "
        "SELECT j.cohort, period_offset, "
        "CAST(COUNT(DISTINCT visitorid) AS BIGINT) AS active_visitors, "
        "sizes.cohort_size, "
        "round(CAST(COUNT(DISTINCT visitorid) AS DOUBLE) / cohort_size, 6) "
        "AS retention_rate "
        "FROM j JOIN sizes ON j.cohort = sizes.cohort "
        "GROUP BY 1, 2, sizes.cohort_size"
    )),
    Query("item_dwell_time", ("events",), analytics.item_dwell_time, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "l AS (SELECT itemid, event_time, lead(event_time) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS nxt FROM ev) "
        "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_dwells, "
        "round(CAST(AVG(CAST(date_diff('second', event_time, nxt) AS DECIMAL(18,6))) "
        "AS DOUBLE), 6) AS avg_dwell_seconds "
        "FROM l WHERE nxt IS NOT NULL AND itemid IS NOT NULL GROUP BY 1"
    )),
    Query("rfm_segments", ("orders",), analytics.rfm_segments, (
        "WITH ref AS (SELECT MAX(o_orderdate) AS r FROM orders), "
        "pc AS (SELECT o_custkey AS custkey, "
        "CAST(date_diff('day', MAX(o_orderdate), (SELECT r FROM ref)) AS INT) "
        "AS recency_days, "
        "CAST(COUNT(*) AS BIGINT) AS frequency, "
        "SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend "
        "FROM orders GROUP BY 1) "
        "SELECT custkey, recency_days, frequency, CAST(spend AS DOUBLE) AS monetary, "
        "CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS INT) AS r_score, "
        "CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey ASC) AS INT) AS f_score, "
        "CAST(ntile(5) OVER (ORDER BY spend DESC, custkey ASC) AS INT) AS m_score "
        "FROM pc"
    )),
    Query("next_item_recs", ("events",), _q_next_item_recs, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "t AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions "
        "FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "r AS (SELECT src AS itemid, dst AS recommended_itemid, n_transitions, "
        "CAST(row_number() OVER (PARTITION BY src "
        "ORDER BY n_transitions DESC, dst ASC) AS INT) AS rec_rank FROM t) "
        "SELECT * FROM r WHERE rec_rank <= 3"
    )),
    Query("session_entry_exit", ("events",), _q_session_entry_exit, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "lagged2 AS (SELECT *, lag(event_time) OVER (PARTITION BY visitorid "
        "ORDER BY event_time) AS prev_t FROM ev2), "
        "flagged2 AS (SELECT *, CASE WHEN prev_t IS NULL OR "
        "date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END "
        "AS is_new FROM lagged2), "
        "sess2 AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || "
        "CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time "
        "ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged2), "
        "r AS (SELECT session_id, itemid, "
        "row_number() OVER (PARTITION BY session_id "
        "ORDER BY event_time, event_id) AS rn_a, "
        "row_number() OVER (PARTITION BY session_id "
        "ORDER BY event_time DESC, event_id DESC) AS rn_d "
        "FROM sess2 WHERE itemid IS NOT NULL), "
        "f AS (SELECT session_id, MIN(CASE WHEN rn_a = 1 THEN itemid END) "
        "AS entry_item, MIN(CASE WHEN rn_d = 1 THEN itemid END) AS exit_item "
        "FROM r GROUP BY 1), "
        "e1 AS (SELECT entry_item AS itemid, CAST(COUNT(*) AS BIGINT) "
        "AS entries FROM f GROUP BY 1), "
        "e2 AS (SELECT exit_item AS itemid, CAST(COUNT(*) AS BIGINT) "
        "AS exits FROM f GROUP BY 1) "
        "SELECT COALESCE(e1.itemid, e2.itemid) AS itemid, "
        "COALESCE(entries, 0) AS entries, COALESCE(exits, 0) AS exits "
        "FROM e1 FULL OUTER JOIN e2 ON e1.itemid = e2.itemid"
    )),
    Query("top_paths", ("events",), _q_top_paths, (
        f"WITH {_SESSIONIZED}, "
        "p AS (SELECT session_id, "
        "array_to_string(list(event ORDER BY event_time, event), '>') AS path "
        "FROM sessionized GROUP BY 1) "
        "SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p "
        "GROUP BY 1 ORDER BY n_sessions DESC, path ASC LIMIT 20"
    )),
    # TPC-H Q4 shape: EXISTS semi-join.
    Query(
        "tpch_q4_late_shipments", ("orders", "lineitem"), relational.late_shipment_priority_counts,
        (
            "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o "
            "WHERE EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate) "
            "GROUP BY o_orderpriority"
        ),
    ),
    # TPC-H Q12 shape: conditional aggregate over the fact-fact join.
    Query(
        "tpch_q12_priority_classes", ("orders", "lineitem"), relational.returnflag_priority_classes,
        (
            "SELECT l_returnflag, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
            "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
            "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY l_returnflag"
        ),
    ),
    # TPC-H Q14 shape: promo revenue share over a broadcast dim with DECIMAL sums.
    Query("tpch_q14_promo_revenue", ("lineitem", "part"), relational.promo_revenue_ratio, (
        "SELECT round(100.0 * "
        "CAST(SUM(CASE WHEN p_type = 'PROMO' THEN "
        "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) "
        "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * "
        "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6) "
        "AS promo_revenue_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey"
    )),
    Query("tfidf_top_terms", ("documents",), partial(text.tfidf_top_terms, k=3), (
        f"WITH tk AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf "
        "FROM tk GROUP BY doc_id, term), "
        "df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
        "n AS (SELECT COUNT(*) AS n_docs FROM documents), "
        "scored AS (SELECT tf.doc_id, tf.term, tf.tf, "
        "round(tf.tf * (ln((n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf "
        "FROM tf JOIN df USING (term) CROSS JOIN n), "
        "ranked AS (SELECT *, CAST(row_number() OVER "
        "(PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank "
        "FROM scored) "
        "SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3"
    )),
    Query("similar_docs_topk", ("documents",), partial(text.similar_docs_topk, query_id=0, k=10), (
        f"WITH d AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents), "
        "q AS (SELECT toks AS qtoks FROM d WHERE doc_id = 0), "
        "s AS (SELECT d.doc_id, "
        "CASE WHEN len(list_distinct(list_concat(d.toks, q.qtoks))) > 0 THEN "
        "round(CAST(len(list_intersect(d.toks, q.qtoks)) AS DOUBLE) / "
        "len(list_distinct(list_concat(d.toks, q.qtoks))), 6) ELSE 0.0 END AS jaccard "
        "FROM d CROSS JOIN q WHERE d.doc_id <> 0) "
        "SELECT doc_id, jaccard FROM s ORDER BY jaccard DESC, doc_id ASC LIMIT 10"
    )),
    Query("label_centroids", ("embeddings",), similarity.label_centroids, (
        "WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x, "
        "unnest(generate_series(0, len(embedding) - 1)) AS idx FROM embeddings), "
        "a AS (SELECT label, idx, COUNT(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS s FROM e GROUP BY label, idx), "
        "m AS (SELECT label, idx, n, CAST(round(round(s / n, 6) * 1000000) AS BIGINT) AS q FROM a) "
        "SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors, "
        "string_agg(CAST(q AS VARCHAR), ',' ORDER BY idx) AS centroid_q6 "
        "FROM m GROUP BY label"
    )),
    Query("repetition_score", ("documents",), partial(text.repetition_score, n=3), (
        f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN "
        "list_transform(generate_series(1, len(toks) - 2), "
        "i -> array_to_string(toks[i:i+2], ' ')) "
        "ELSE [] END AS grams FROM toks) "
        "SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, "
        "CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct, "
        "CASE WHEN len(grams) > 0 THEN "
        "round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6) "
        "ELSE 0.0 END AS repetition_ratio FROM g"
    )),
    Query("dedup_apply", ("documents",), _q_dedup_apply, (
        "WITH RECURSIVE "
        "kept2 AS (SELECT * FROM documents WHERE doc_id IN "
        f"(SELECT MIN(doc_id) FROM documents GROUP BY md5({_NORM_TEXT_SQL}))), "
        f"{_minhash_cte(src='kept2')}, "
        "pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.7), "
        "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(id, r) AS (SELECT s, s FROM edges "
        "UNION SELECT e.s, rr.r FROM edges e JOIN reach rr ON rr.id = e.d), "
        "losers AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) <> id) "
        "SELECT doc_id, lang, source, n_chars FROM kept2 "
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)"
    )),
    Query("packed_corpus", ("documents",), partial(curation.pack_corpus_text, budget=512), (
        f"WITH t AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS token_count FROM documents), "
        "r AS (SELECT doc_id, token_count, "
        "CAST(SUM(token_count) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t), "
        "p AS (SELECT doc_id, token_count, (cum - token_count) // 512 AS pack_id FROM r) "
        "SELECT p.pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(p.token_count) AS BIGINT) AS n_tokens, "
        "string_agg(d.text, ' ' ORDER BY p.doc_id) AS pack_text "
        "FROM p JOIN documents d ON d.doc_id = p.doc_id GROUP BY p.pack_id"
    )),
    Query("events_cube", ("events",), analytics.events_cube, (
        "SELECT event_type AS event, CAST(date_trunc('day', ts) AS DATE) AS day, "
        "CAST(COUNT(*) AS BIGINT) AS n_events, "
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, "
        "CAST(GROUPING(event_type, day) AS BIGINT) AS gid "
        "FROM events GROUP BY CUBE (event_type, day)"
    )),
    Query("customer_order_ranks", ("orders", "customer"), relational.customer_order_ranks, (
        "WITH ranked AS (SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS order_rank "
        "FROM orders) "
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice, CAST(order_rank AS INT) AS order_rank "
        "FROM ranked JOIN customer ON o_custkey = c_custkey WHERE order_rank <= 3"
    )),
    Query("orders_without_lineitems", ("orders", "lineitem"), relational.orders_without_lineitems, (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)"
    )),
    Query("text_stats", ("documents",), text.text_stats, (
        f"WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents), "
        "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS token_count, "
        "CAST(length(text) AS BIGINT) AS char_count, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) AS stopword_count, "
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_count "
        "FROM t) "
        "SELECT doc_id, token_count, char_count, stopword_count, "
        "round(CAST(stopword_count AS DOUBLE) / token_count, 6) AS stopword_ratio, "
        "round(CAST(punct_count AS DOUBLE) / char_count, 6) AS punct_ratio, "
        "round(0.5 * least(CAST(token_count AS DOUBLE) / 50, 1.0) "
        "+ 0.3 * (1.0 - CAST(stopword_count AS DOUBLE) / token_count) "
        "+ 0.2 * (1.0 - CAST(punct_count AS DOUBLE) / char_count), 6) AS quality_score "
        "FROM s"
    )),
    Query("token_count_bpe", ("documents",), text.token_count_bpe, (
        "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '\\w+|[^\\w\\s]')) AS BIGINT) "
        "AS bpe_token_count FROM documents"
    )),
    Query("lang_id", ("documents",), text.lang_id, _lang_id_sql()),
    Query("doc_fingerprint", ("documents",), text.fingerprint, (
        f"SELECT doc_id, md5({_NORM_TEXT_SQL}) AS fingerprint FROM documents"
    )),
    Query("dedup_exact", ("documents",), dedup.exact_dedup, (
        f"SELECT md5({_NORM_TEXT_SQL}) AS fingerprint, "
        "MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY 1"
    )),
    Query("dedup_keep_first", ("documents",), _q_dedup_keep_first, (
        "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id IN "
        f"(SELECT MIN(doc_id) FROM documents GROUP BY md5({_NORM_TEXT_SQL}))"
    )),
    # max_pairs raised DELIBERATELY: the 100x all-dups checkpoint fixture
    # estimates 1.54e10 candidate pairs and this entry is the measurement
    # that the exact tier survives it (489 s where the DuckDB control
    # times out); the library default (1e10) refuses corpora at that
    # density and redirects to minhash_lsh_pairs — see the tier contract
    # in ngram_jaccard_pairs' docstring / SCALING.md.
    Query(
        "dedup_ngram_jaccard",
        ("documents",),
        partial(dedup.ngram_jaccard_pairs, threshold=0.9, max_pairs=20_000_000_000),
        (
            f"WITH d AS (SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks, "
            "CAST(n_chars // 64 AS BIGINT) AS block FROM documents), "
            "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
            "len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard "
            "FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id) "
            "SELECT * FROM p WHERE jaccard >= 0.9"
        ),
    ),
    Query(
        "dedup_minhash_lsh",
        ("documents",),
        partial(dedup.minhash_lsh_pairs, threshold=0.7, hash="portable"),
        _minhash_sql(threshold=0.7),
    ),
    Query(
        "dedup_simhash",
        ("documents",),
        partial(dedup.simhash_pairs, max_hamming=8, bits=60, hash="portable"),
        _simhash_sql(max_hamming=8, bits=60),
    ),
    # Threshold 0.25: random fixture embeddings are near-orthogonal (cos sd ~ 1/8), so 0.9 selects nothing.
    Query(
        "dedup_embedding_cosine",
        ("embeddings",),
        partial(similarity.all_pairs_above, threshold=0.25, num_planes=8, bands=2, method="pandas"),
        _embedding_pairs_sql(threshold=0.25, num_planes=8, bands=2),
    ),
    # Spark propagates min labels; the oracle closes the same edge set with a recursive CTE.
    Query("dedup_clusters", ("documents",), _q_dedup_clusters, _clusters_sql(threshold=0.9)),
    Query(
        "similarity_topk", ("embeddings",), partial(similarity.brute_force_topk, query_id=0, k=10),
        (
            "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id, round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) / "
            "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * "
            "sqrt(list_dot_product(qv, qv))), 6) AS score "
            "FROM embeddings, q ORDER BY score DESC, vec_id ASC LIMIT 10"
        ),
    ),
    Query(
        "similarity_lsh_topk",
        ("embeddings",),
        partial(similarity.lsh_topk, query_id=0, k=10, num_planes=4),
        _lsh_topk_sql(k=10, num_planes=4),
    ),
    # Seeded quantizer (lowest ids as centroids) so the oracle can replay it; k-means is the library default.
    Query(
        "similarity_ivf_topk",
        ("embeddings",),
        partial(
            similarity.ivf_topk, query_id=0, k=10, num_centroids=8, nprobe=2, quantizer="seeded"
        ),
        _ivf_topk_sql(k=10, num_centroids=8, nprobe=2),
    ),
    Query(
        "similarity_knn_join",
        ("embeddings",),
        partial(similarity.knn_join, k=3, num_planes=8, bands=2),
        _knn_join_sql(k=3, num_planes=8, bands=2),
    ),
    # 16 planes (256 buckets/band): at 100x, 8 planes push every bucket past the 4096-row guard.
    Query(
        "similarity_knn_join_fine",
        ("embeddings",),
        partial(similarity.knn_join, k=3, num_planes=16, bands=2),
        _knn_join_sql(k=3, num_planes=16, bands=2),
    ),
    Query("corpus_stats", ("documents",), curation.corpus_stats, (
        f"WITH t AS (SELECT doc_id, lang, source, text, {_TOKS_SQL} AS toks FROM documents), "
        "s AS (SELECT doc_id, lang, source, CAST(len(toks) AS BIGINT) AS token_count, "
        "CAST(length(text) AS BIGINT) AS char_count, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) AS stopword_count, "
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_count FROM t), "
        "q AS (SELECT doc_id, lang, source, token_count, char_count, "
        "round(0.5 * least(CAST(token_count AS DOUBLE) / 50, 1.0) "
        "+ 0.3 * (1.0 - CAST(stopword_count AS DOUBLE) / token_count) "
        "+ 0.2 * (1.0 - CAST(punct_count AS DOUBLE) / char_count), 6) AS quality_score FROM s) "
        "SELECT lang, source, COUNT(*) AS n_docs, "
        "CAST(SUM(token_count) AS BIGINT) AS total_tokens, "
        "CAST(SUM(char_count) AS BIGINT) AS total_chars, "
        "round(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality "
        "FROM q GROUP BY lang, source"
    )),
    Query("corpus_sample", ("documents",), _q_corpus_sample, (
        "SELECT doc_id, lang, source FROM documents WHERE "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 < 200000"
    )),
    Query("redact_pii", ("documents",), curation.redact_pii, (
        f"WITH {_redact_chain_sql('documents')} "
        "SELECT doc_id, n_email, n_ssn, n_phone, t3 AS redacted_text, "
        "n_email + n_ssn + n_phone AS n_redactions FROM s3"
    )),
    Query("pack_sequences", ("documents",), partial(curation.pack_sequences, budget=512), (
        f"WITH t AS (SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS token_count FROM documents), "
        "r AS (SELECT doc_id, token_count, "
        "CAST(SUM(token_count) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t) "
        "SELECT doc_id, token_count, cum - token_count AS start_offset, "
        "(cum - token_count) // 512 AS pack_id FROM r"
    )),
    Query(
        "curate_corpus",
        ("documents",),
        partial(
            curation.curate_corpus, min_quality=0.3, near_dup_threshold=0.9, budget=512, hash="portable"
        ),
        _curate_corpus_sql(min_quality=0.3, threshold=0.9, budget=512),
    ),
    Query("multimodal_decode", ("documents",), _q_multimodal_decode, (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width, "
        "CAST(64 + (octet_length(encode(text)) * 31) % 417 AS BIGINT) AS height, "
        "CAST(3 AS BIGINT) AS channels FROM documents"
    )),
    Query("multimodal_frames", ("documents",), _q_multimodal_frames, (
        "SELECT doc_id, CAST(unnest(generate_series(0, octet_length(encode(text)) % 100, 10)) AS BIGINT) "
        "AS frame_idx FROM documents"
    )),
    # normalize=False: raw byte counts are exact integers the oracle recounts per character (ASCII fixture).
    Query("multimodal_features", ("documents",), _q_multimodal_features, (
        "WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM documents), "
        "cnts AS (SELECT doc_id, ord(substr(text, i, 1)) % 16 AS bucket, COUNT(*) AS c "
        "FROM pos GROUP BY 1, 2), "
        "grid AS (SELECT doc_id, b AS bucket FROM documents CROSS JOIN range(16) AS t(b)) "
        "SELECT g.doc_id, g.bucket, COALESCE(c.c, 0) AS byte_count "
        "FROM grid g LEFT JOIN cnts c ON c.doc_id = g.doc_id AND c.bucket = g.bucket"
    )),
    Query("sessions", ("events",), _q_sessions, (
        f"WITH {_SESSIONIZED} "
        "SELECT session_id, visitorid, MIN(event_time) AS session_start, "
        "MAX(event_time) AS session_end, COUNT(*) AS events_in_session, "
        "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
        "FROM sessionized GROUP BY session_id, visitorid"
    )),
    Query("session_length_quantiles", ("events",), _q_session_length_quantiles, (
        f"WITH {_SESSIONIZED}, m AS ("
        "SELECT session_id, visitorid, COUNT(*) AS events_in_session, "
        "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
        "FROM sessionized GROUP BY session_id, visitorid) "
        "SELECT COUNT(*) AS n_sessions, "
        "quantile_cont(session_length, 0.5) AS p50, "
        "quantile_cont(session_length, 0.9) AS p90, "
        "quantile_cont(session_length, 0.99) AS p99, "
        "round(AVG(events_in_session), 6) AS avg_events FROM m"
    )),
    Query("latest_event_state", ("events",), analytics.latest_event_state, (
        "WITH ev AS (SELECT user_id AS visitorid, event_type AS event, ts AS event_time, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid, event_id, value FROM events), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY visitorid, itemid "
        "ORDER BY event_time DESC, event_id DESC) AS rn FROM ev) "
        "SELECT visitorid, itemid, event_time, event_id, event, value "
        "FROM r WHERE rn = 1"
    )),
    Query("value_quantiles_by_event", ("events",), analytics.value_quantiles_by_event, (
        "SELECT event_type AS event, COUNT(*) AS n_events, "
        "round(quantile_cont(value, 0.5), 6) AS p50, "
        "round(quantile_cont(value, 0.9), 6) AS p90, "
        "round(quantile_cont(value, 0.99), 6) AS p99, "
        "round(CAST(AVG(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS avg_value "
        "FROM events GROUP BY event_type"
    )),
    Query("value_histogram", ("events",), partial(analytics.value_histogram, bin_width=10.0), (
        "SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, "
        "CAST(COUNT(*) AS BIGINT) AS n_events, "
        "round(CAST(floor(value / 10.0) AS BIGINT) * CAST(10.0 AS DOUBLE), 6) AS bin_start "
        "FROM events WHERE value IS NOT NULL GROUP BY 1"
    )),
    Query(
        "rolling_active_users", ("events",), partial(analytics.rolling_active_users, window_days=7),
        (
            f"WITH {_EV}, "
            "daily AS (SELECT DISTINCT CAST(date_trunc('day', event_time) AS DATE) AS day, visitorid FROM ev), "
            "days AS (SELECT DISTINCT day FROM daily) "
            "SELECT days.day, CAST(COUNT(DISTINCT daily.visitorid) AS BIGINT) AS active_users "
            "FROM daily JOIN days ON days.day >= daily.day "
            "AND days.day <= daily.day + INTERVAL 6 DAY "
            "GROUP BY days.day"
        ),
    ),
    Query("user_paths", ("events",), _q_user_paths, (
        f"WITH {_SESSIONIZED} "
        "SELECT visitorid, session_id, "
        "string_agg(event, '>' ORDER BY event_time, event) AS path_str "
        "FROM sessionized GROUP BY visitorid, session_id"
    )),
    Query("funnel_analysis", ("events",), _q_funnel, (
        f"WITH {_SESSIONIZED}, flags AS ("
        "SELECT session_id, visitorid, "
        "MAX(CASE WHEN event='view' THEN 1 ELSE 0 END) AS v, "
        "MAX(CASE WHEN event='click' THEN 1 ELSE 0 END) AS c, "
        "MAX(CASE WHEN event='purchase' THEN 1 ELSE 0 END) AS p "
        "FROM sessionized GROUP BY session_id, visitorid) "
        'SELECT CAST(SUM(v) AS BIGINT) AS "view", CAST(SUM(c) AS BIGINT) AS click, '
        "CAST(SUM(p) AS BIGINT) AS purchase FROM flags"
    )),
    # The reference's data/test.ipynb EDA as a query.
    Query("events_profile", ("events",), analytics.profile_events, (
        f"WITH {_EV} "
        "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT visitorid) AS n_visitors, "
        "COUNT(DISTINCT itemid) AS n_items, COUNT(DISTINCT event) AS n_event_types, "
        "CAST(SUM(CASE WHEN itemid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_itemid, "
        "MIN(event_time) AS first_event, MAX(event_time) AS last_event FROM ev"
    )),
    Query("events_per_minute", ("events",), analytics.events_per_minute, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, COUNT(*) AS events_count "
        "FROM ev GROUP BY 1"
    )),
    Query(
        "events_per_minute_ma",
        ("events",),
        partial(analytics.events_per_minute_ma, window_minutes=5),
        (
            f"WITH {_EV}, per_min AS ("
            "SELECT date_trunc('minute', event_time) AS minute, COUNT(*) AS events_count "
            "FROM ev GROUP BY 1) "
            "SELECT minute, events_count, "
            "round(AVG(events_count) OVER (ORDER BY epoch(minute) RANGE BETWEEN 240 PRECEDING AND CURRENT ROW), 6) AS ma_5m "
            "FROM per_min"
        ),
    ),
    Query("value_per_minute", ("events",), analytics.value_per_minute, (
        "SELECT date_trunc('minute', ts) AS minute, "
        "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value, "
        "round(AVG(value), 6) AS avg_value, COUNT(*) AS events_count "
        "FROM events GROUP BY 1"
    )),
    Query("ngram_counts", ("documents",), partial(text.ngram_counts, n=2, k=100), (
        f"WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1), "
        "i -> toks[i] || ' ' || toks[i+1])) AS ngram FROM t) "
        "SELECT ngram, COUNT(*) AS occurrences FROM g GROUP BY ngram "
        "ORDER BY occurrences DESC, ngram ASC LIMIT 100"
    )),
    Query("active_users", ("events",), analytics.active_users, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, "
        "COUNT(DISTINCT visitorid) AS active_users FROM ev GROUP BY 1"
    )),
    Query("event_type_distribution", ("events",), analytics.event_type_distribution, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, event, COUNT(*) AS event_count "
        "FROM ev GROUP BY 1, 2"
    )),
    Query("bounce_rate", ("events",), analytics.bounce_rate, (
        f"WITH {_EV}, per_user AS ("
        "SELECT date_trunc('minute', event_time) AS minute, visitorid, COUNT(*) AS events "
        "FROM ev GROUP BY 1, 2) "
        "SELECT minute, CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, "
        "COUNT(*) AS total_users, "
        "CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate "
        "FROM per_user GROUP BY minute"
    )),
    Query("top_items", ("events",), analytics.top_items, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, itemid, COUNT(*) AS interactions "
        "FROM ev GROUP BY 1, 2"
    )),
    Query("top_k_items_per_minute", ("events",), partial(analytics.top_k_items_per_minute, k=3), (
        f"WITH {_EV}, counts AS ("
        "SELECT date_trunc('minute', event_time) AS minute, itemid, COUNT(*) AS interactions "
        "FROM ev GROUP BY 1, 2), ranked AS ("
        "SELECT *, row_number() OVER (PARTITION BY minute ORDER BY interactions DESC, itemid ASC) AS rank "
        "FROM counts) SELECT minute, itemid, interactions, CAST(rank AS INT) AS rank "
        "FROM ranked WHERE rank <= 3"
    )),
    Query("item_interactions", ("events",), analytics.item_interactions, (
        f"WITH {_EV} SELECT itemid, COUNT(*) AS interaction_count FROM ev GROUP BY itemid"
    )),
    Query("most_viewed_items", ("events",), analytics.most_viewed_items, (
        f"WITH {_EV} SELECT itemid, COUNT(*) AS view_count FROM ev "
        "WHERE event = 'view' GROUP BY itemid"
    )),
    # Touching session windows merge, so the exact-gap boundary matches the batch operator's strict >.
    Query("session_window_sessions", ("events",), _q_session_window_sessions, (
        f"WITH {_SESSIONIZED} "
        "SELECT CAST(visitorid AS VARCHAR) || '_' || "
        "CAST(CAST(floor(epoch(MIN(event_time))) AS BIGINT) AS VARCHAR) AS session_id, "
        "visitorid, MIN(event_time) AS session_start, "
        "MAX(event_time) AS session_end, COUNT(*) AS events_in_session, "
        "date_diff('second', MIN(event_time), MAX(event_time)) AS session_length "
        "FROM sessionized GROUP BY sessionized.session_id, visitorid"
    )),
    # the streaming windowed_* operators run in batch mode: tumbling
    # minute windows == date_trunc('minute'); the chained hour window in
    # windowed_funnel buckets on session_window.end - 1 µs, and
    # session_window merges on exact-µs gap <= 30 min (NOT the batch
    # operator's floored-second arithmetic)
    Query("windowed_top_items", ("events",), streaming.windowed_top_items, (
        f"WITH {_EV} "
        "SELECT date_trunc('minute', event_time) AS minute, itemid, "
        "COUNT(*) AS interactions FROM ev GROUP BY 1, 2"
    )),
    Query("windowed_bounce_rate", ("events",), streaming.windowed_bounce_rate, (
        f"WITH {_EV}, per_user AS ("
        "SELECT date_trunc('minute', event_time) AS minute, visitorid, COUNT(*) AS events "
        "FROM ev GROUP BY 1, 2) "
        "SELECT minute, CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces, "
        "COUNT(*) AS total_users, "
        "CAST(SUM(CASE WHEN events=1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate "
        "FROM per_user GROUP BY minute"
    )),
    Query("windowed_funnel", ("events",), partial(streaming.windowed_funnel, steps=FUNNEL_STEPS), (
        f"WITH {_EV}, "
        "lagged AS (SELECT *, lag(event_time) OVER (PARTITION BY visitorid ORDER BY event_time) AS prev_t FROM ev), "
        "flagged AS (SELECT *, CASE WHEN prev_t IS NULL OR event_time - prev_t > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new FROM lagged), "
        "isl AS (SELECT *, SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time ROWS UNBOUNDED PRECEDING) AS sess FROM flagged), "
        "fl AS (SELECT visitorid, sess, MAX(event_time) AS max_t, "
        "MAX(CASE WHEN event='view' THEN 1 ELSE 0 END) AS v, "
        "MAX(CASE WHEN event='click' THEN 1 ELSE 0 END) AS c, "
        "MAX(CASE WHEN event='purchase' THEN 1 ELSE 0 END) AS p "
        "FROM isl GROUP BY visitorid, sess) "
        "SELECT date_trunc('hour', max_t + INTERVAL '30 minutes' - INTERVAL '1 microsecond') AS window_start, "
        'CAST(SUM(v) AS BIGINT) AS "view", CAST(SUM(c) AS BIGINT) AS click, '
        "CAST(SUM(p) AS BIGINT) AS purchase FROM fl GROUP BY 1"
    )),
    # The deterministic 20% hash sample stands in as the eval set, so the oracle can replay membership.
    Query("decontaminate", ("documents",), _q_decontaminate, (
        f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram "
        "FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)), "
        "bench AS (SELECT DISTINCT gram FROM g WHERE "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 < 200000), "
        "m AS (SELECT DISTINCT d.doc_id, d.gram FROM g d JOIN bench b ON d.gram = b.gram), "
        "c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_ngrams FROM m GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(c.matched_ngrams, 0) AS matched_ngrams, "
        "COALESCE(c.matched_ngrams, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id"
    )),
    Query("decontaminate_apply", ("documents",), _q_decontaminate_apply, (
        f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram "
        "FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)), "
        "bench AS (SELECT DISTINCT gram FROM g WHERE "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 < 200000), "
        "hits AS (SELECT DISTINCT d.doc_id FROM g d JOIN bench b ON d.gram = b.gram) "
        "SELECT doc_id, lang, source, n_chars FROM documents "
        "WHERE doc_id NOT IN (SELECT doc_id FROM hits)"
    )),
    Query("corpus_profile", ("documents",), curation.corpus_profile, (
        "SELECT COUNT(*) AS n_docs, "
        "COUNT(DISTINCT lang) AS n_langs, "
        "COUNT(DISTINCT source) AS n_sources, "
        "CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text, "
        "CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_text, "
        "CAST(MIN(length(text)) AS BIGINT) AS min_chars, "
        "CAST(MAX(length(text)) AS BIGINT) AS max_chars, "
        "round(CAST(AVG(CAST(length(text) AS DECIMAL(18,4))) AS DOUBLE), 6) AS avg_chars "
        "FROM documents"
    )),
    # The oracle is DuckDB's native ASOF LEFT JOIN.
    Query("asof_last_purchase", ("events",), _q_asof_last_purchase, (
        "WITH v AS (SELECT user_id AS visitorid, ts AS event_time, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid "
        "FROM events WHERE event_type = 'view'), "
        "p AS (SELECT user_id AS visitorid, ts AS event_time, MAX(value) AS purchase_value "
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) "
        "SELECT v.visitorid, v.event_time, v.itemid, p.purchase_value, "
        "p.event_time AS event_time_asof "
        "FROM v ASOF LEFT JOIN p ON v.visitorid = p.visitorid AND v.event_time >= p.event_time"
    )),
    Query(
        "chunk_documents", ("documents",), partial(text.chunk_documents, max_tokens=64, overlap=16),
        (
            f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
            "n AS (SELECT doc_id, toks, len(toks) AS ntok FROM toks WHERE ntok >= 1), "
            "c AS (SELECT doc_id, toks, "
            "CAST(1 + ceil(greatest(ntok - 64, 0) / 48.0) AS INT) AS nchunks FROM n), "
            "x AS (SELECT doc_id, toks, i AS chunk_id FROM c "
            "CROSS JOIN unnest(generate_series(0, nchunks - 1)) AS t(i)), "
            "s AS (SELECT doc_id, chunk_id, toks[chunk_id*48+1 : chunk_id*48+64] AS chunk FROM x) "
            "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, "
            "CAST(len(chunk) AS BIGINT) AS n_tokens, "
            "array_to_string(chunk, ' ') AS chunk_text FROM s"
        ),
    ),
    # The range join reproduces sessionize's own assignment; the oracle checks it with a BETWEEN join.
    Query("events_with_session", ("events",), _q_events_with_session, (
        f"WITH {_SESSIONIZED}, "
        "iv AS (SELECT session_id AS sid, visitorid AS v, MIN(event_time) AS s, "
        "MAX(event_time) AS e FROM sessionized GROUP BY 1, 2) "
        "SELECT ev.visitorid, ev.event_time, ev.itemid, iv.sid AS session_id "
        "FROM ev JOIN iv ON iv.v = ev.visitorid "
        "AND ev.event_time BETWEEN iv.s AND iv.e"
    )),
    Query("sessions_in_campaigns", ("events",), _q_sessions_in_campaigns, (
        f"WITH {_SESSIONIZED}, "
        "iv AS (SELECT session_id, MIN(event_time) AS s, MAX(event_time) AS e "
        "FROM sessionized GROUP BY 1), "
        "camp(campaign, cs, ce) AS (VALUES "
        + ", ".join(
            f"('{c}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for c, s, e in _CAMPAIGNS
        )
        + ") "
        "SELECT iv.session_id, camp.campaign FROM iv JOIN camp "
        "ON iv.s <= camp.ce AND camp.cs <= iv.e"
    )),
    Query("view_purchase_attribution", ("events",), _q_view_purchase_attribution, (
        f"WITH {_EV} "
        "SELECT v.visitorid, v.event_time AS view_time, v.itemid AS view_item, "
        "p.event_time AS purchase_time, p.itemid AS purchase_item "
        "FROM (SELECT * FROM ev WHERE event = 'view') v "
        "JOIN (SELECT * FROM ev WHERE event = 'purchase') p "
        "ON p.visitorid = v.visitorid "
        "AND p.event_time >= v.event_time "
        "AND p.event_time <= v.event_time + INTERVAL '30 minutes'"
    )),
    Query("view_purchase_attribution_outer", ("events",), _q_view_purchase_attribution_outer, (
        f"WITH {_EV} "
        "SELECT v.visitorid, v.event_time AS view_time, v.itemid AS view_item, "
        "p.event_time AS purchase_time, p.itemid AS purchase_item "
        "FROM (SELECT * FROM ev WHERE event = 'view') v "
        "LEFT JOIN (SELECT * FROM ev WHERE event = 'purchase') p "
        "ON p.visitorid = v.visitorid "
        "AND p.event_time >= v.event_time "
        "AND p.event_time <= v.event_time + INTERVAL '30 minutes'"
    )),
    Query("conversion_rate_by_item", ("events",), _q_conversion_rate_by_item, (
        f"WITH {_EV}, "
        "j AS (SELECT v.visitorid, v.event_time AS view_time, v.itemid AS view_item, "
        "p.event_time AS purchase_time "
        "FROM (SELECT * FROM ev WHERE event = 'view') v "
        "LEFT JOIN (SELECT * FROM ev WHERE event = 'purchase') p "
        "ON p.visitorid = v.visitorid "
        "AND p.event_time >= v.event_time "
        "AND p.event_time <= v.event_time + INTERVAL '30 minutes'), "
        "pv AS (SELECT visitorid, view_time, view_item, "
        "MAX(purchase_time IS NOT NULL) AS converted "
        "FROM j GROUP BY visitorid, view_time, view_item) "
        "SELECT view_item, COUNT(*) AS n_views, "
        "CAST(SUM(CAST(converted AS BIGINT)) AS BIGINT) AS n_converted, "
        "round(CAST(SUM(CAST(converted AS BIGINT)) AS DOUBLE) / COUNT(*), 6) "
        "AS conversion_rate FROM pv GROUP BY view_item"
    )),
    Query("windowed_conversion_rate", ("events",), _q_windowed_conversion_rate, (
        f"WITH {_EV}, "
        "j AS (SELECT v.visitorid, v.event_time AS view_time, v.itemid AS view_item, "
        "p.event_time AS purchase_time "
        "FROM (SELECT * FROM ev WHERE event = 'view') v "
        "LEFT JOIN (SELECT * FROM ev WHERE event = 'purchase') p "
        "ON p.visitorid = v.visitorid "
        "AND p.event_time >= v.event_time "
        "AND p.event_time <= v.event_time + INTERVAL '30 minutes'), "
        "pv AS (SELECT visitorid, view_time, view_item, "
        "MAX(purchase_time IS NOT NULL) AS converted "
        "FROM j GROUP BY visitorid, view_time, view_item) "
        "SELECT date_trunc('hour', view_time) AS window_start, view_item, "
        "COUNT(*) AS n_views, "
        "CAST(SUM(CAST(converted AS BIGINT)) AS BIGINT) AS n_converted, "
        "round(CAST(SUM(CAST(converted AS BIGINT)) AS DOUBLE) / COUNT(*), 6) "
        "AS conversion_rate FROM pv GROUP BY 1, 2"
    )),
    # The driver's hasher cannot sort list cells, so vectors go out as CSV of round(x*1e6) integers.
    Query("normalize_embeddings", ("embeddings",), _q_normalize_embeddings, (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e) "
        "SELECT vec_id, array_to_string(list_transform(v, "
        "x -> CAST(round(round(x / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END), 6) * 1000000) AS BIGINT)), ',') "
        "AS normalized_q6 FROM n"
    )),
    Query("temperature_sample", ("documents",), _q_temperature_sample, (
        "WITH c AS (SELECT lang, COUNT(*) AS strat_n FROM documents GROUP BY 1), "
        "t AS (SELECT CAST(SUM(strat_n) AS DOUBLE) AS total_n, "
        "SUM(pow(CAST(strat_n AS DOUBLE), 0.5)) AS denom FROM c), "
        "r AS (SELECT lang, round(least(1.0, 0.5 * total_n * pow(CAST(strat_n AS DOUBLE), -0.5) / denom), 6) AS rate "
        "FROM c CROSS JOIN t) "
        "SELECT d.doc_id, d.lang, d.source FROM documents d "
        "JOIN r ON r.lang IS NOT DISTINCT FROM d.lang "
        f"WHERE {portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 < rate * 1000000"
    )),
    Query("stratified_fixed_k", ("documents",), _q_stratified_fixed_k, (
        "WITH h AS (SELECT doc_id, lang, source, "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} AS hh "
        "FROM documents), "
        "r AS (SELECT doc_id, lang, source, CAST(row_number() OVER "
        "(PARTITION BY lang ORDER BY hh ASC, doc_id ASC) AS INT) AS sample_rank FROM h) "
        "SELECT doc_id, lang, source, sample_rank FROM r WHERE sample_rank <= 20"
    )),
    Query("dup_histogram", ("documents",), dedup.duplication_histogram, (
        f"WITH fp AS (SELECT md5({_NORM_TEXT_SQL}) AS f FROM documents), "
        "g AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS group_size FROM fp GROUP BY f) "
        "SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups, "
        "CAST(group_size * COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY group_size"
    )),
    Query("split_corpus", ("documents",), _q_split_corpus, (
        "WITH h AS (SELECT doc_id, lang, source, "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 AS hv FROM documents) "
        "SELECT doc_id, lang, source, "
        "CASE WHEN hv < 900000 THEN 'train' WHEN hv < 950000 THEN 'val' ELSE 'test' END AS split "
        "FROM h"
    )),
    Query(
        "item_skew_profile", ("events",), partial(analytics.key_skew_profile, key="itemid", k=10),
        (
            f"WITH {_EV}, c AS (SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_rows FROM ev GROUP BY 1), "
            "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM ev) "
            "SELECT itemid, n_rows, round(n_rows / total, 6) AS share "
            "FROM c CROSS JOIN t ORDER BY n_rows DESC, itemid ASC LIMIT 10"
        ),
    ),
    # qvec goes out as CSV for the driver's list-blind hasher.
    Query("quantize_embeddings", ("embeddings",), _q_quantize_embeddings, (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e), "
        "s AS (SELECT vec_id, v, round(CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END, 6) AS scale FROM m) "
        "SELECT vec_id, scale, array_to_string(list_transform(v, "
        "x -> CAST(round(x * scale) AS INT)), ',') AS qvec_csv FROM s"
    )),
    # Portable KMV sketch so the oracle replays the estimate; the HLL variant is engine-internal.
    Query(
        "active_users_approx", ("events",), partial(analytics.active_users_kmv, k=32, grain="hour"),
        _kmv_sql(k=32, grain="hour"),
    ),
    # NiFi cleanse semantics (N3-N5) on the raw fixture events.
    Query("cleanse_events", ("events_raw",), _q_cleanse, (
        "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_formatted, "
        "epoch_ms(ts) AS unix_ts_ms, "
        "CASE WHEN event_type='view' THEN 'Low Value' ELSE 'High Value' END AS event_category "
        "FROM events"
    )),
    Query("tpch_q1_pricing_summary", ("lineitem",), relational.pricing_summary, (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
        f"{_DEC_REV} AS sum_disc_price, "
        "COUNT(*) AS count_order, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    )),
    Query("pricing_rollup", ("lineitem",), relational.pricing_rollup, (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    )),
    Query(
        "tpch_q5_revenue_by_nation",
        ("lineitem", "orders", "customer", "nation", "region"),
        relational.revenue_by_nation,
        (
            "SELECT n_name, "
            f"{_DEC_REV} AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY n_name"
        ),
    ),
    Query(
        "tpch_q3_top_orders", ("lineitem", "orders", "customer"), relational.top_orders_by_revenue,
        (
            "SELECT o_orderkey, o_orderdate, o_orderpriority, "
            f"{_DEC_REV} AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "GROUP BY o_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"
        ),
    ),
    Query(
        "supplier_part_volume", ("lineitem", "supplier", "part"), relational.supplier_part_volume,
        (
            "SELECT s_name, p_brand, SUM(l_quantity) AS total_qty, COUNT(*) AS line_count "
            "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN part ON l_partkey = p_partkey GROUP BY s_name, p_brand"
        ),
    ),
    Query("token_length_distribution", ("documents",), text.token_length_distribution, (
        f"WITH tk AS (SELECT unnest({_TOKS_SQL}) AS t FROM documents) "
        "SELECT CAST(length(t) AS BIGINT) AS token_len, "
        "CAST(COUNT(*) AS BIGINT) AS n_occurrences, "
        "CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types "
        "FROM tk WHERE t <> '' GROUP BY 1 ORDER BY token_len ASC"
    )),
    Query("char_entropy", ("documents",), text.char_entropy, (
        "WITH ch AS (SELECT doc_id, substr(text, i, 1) AS c "
        "FROM documents, LATERAL UNNEST(generate_series(1, length(text))) AS g(i)), "
        "cc AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2), "
        "g2 AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars, "
        "CAST(COUNT(*) AS BIGINT) AS n_distinct_chars, "
        "SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS snlogn FROM cc GROUP BY 1) "
        "SELECT doc_id, n_chars, n_distinct_chars, "
        "round(ln(CAST(n_chars AS DOUBLE)) - snlogn / CAST(n_chars AS DOUBLE), 6) + 0.0 "
        "AS char_entropy FROM g2"
    )),
    Query("readability_scores", ("documents",), text.readability_scores, (
        f"WITH d AS (SELECT source, "
        f"CAST(len(list_filter({_TOKS_SQL}, x -> x <> '')) AS BIGINT) AS w, "
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s, "
        "CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS y "
        "FROM documents), "
        "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(w) AS BIGINT) AS n_words, CAST(SUM(s) AS BIGINT) AS n_sentences, "
        "CAST(SUM(y) AS BIGINT) AS n_syllables FROM d GROUP BY 1) "
        "SELECT source, n_docs, n_words, n_sentences, n_syllables, "
        "round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6) AS words_per_sentence, "
        "round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS syllables_per_word, "
        "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) "
        "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) AS flesch "
        "FROM g"
    )),
    Query(
        "ann_recall_lsh",
        ("embeddings",),
        partial(similarity.ann_recall_eval, query_id=0, k=10, method="lsh", num_planes=4),
        _ann_recall_sql(_lsh_topk_sql(k=10, num_planes=4), k=10),
    ),
    Query(
        "ann_recall_ivf",
        ("embeddings",),
        partial(
            similarity.ann_recall_eval, query_id=0, k=10, method="ivf", num_centroids=8, nprobe=2, quantizer="seeded"
        ),
        _ann_recall_sql(
            _ivf_topk_sql(k=10, num_centroids=8, nprobe=2), k=10
        ),
    ),
    Query("embedding_dim_stats", ("embeddings",), similarity.embedding_dim_stats, (
        "WITH ex AS (SELECT g.i - 1 AS idx, CAST(embedding[g.i] AS DOUBLE) AS x "
        "FROM embeddings, LATERAL UNNEST(generate_series(1, len(embedding))) AS g(i)), "
        "a AS (SELECT CAST(idx AS BIGINT) AS idx, CAST(COUNT(*) AS BIGINT) AS n_values, "
        "SUM(CAST(x AS DECIMAL(38,12))) AS sx, "
        "SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx, "
        "round(MIN(x), 6) AS dim_min, round(MAX(x), 6) AS dim_max FROM ex GROUP BY 1) "
        "SELECT idx, n_values, "
        "round(CAST(sx AS DOUBLE) / CAST(n_values AS DOUBLE), 6) AS dim_mean, "
        "round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) "
        "/ CAST(n_values AS DOUBLE)) / CAST(n_values AS DOUBLE), 6) AS dim_var, "
        "dim_min, dim_max FROM a ORDER BY idx ASC"
    )),
    Query(
        "bpe_merge_step", ("documents",), partial(text.bpe_merge_step, top_n=100, min_pair_count=2),
        (
            f"WITH tk AS (SELECT unnest({_TOKS_SQL}) AS w FROM documents), "
            "v AS (SELECT w, COUNT(*) AS wc FROM tk WHERE length(w) >= 2 GROUP BY w), "
            "p AS (SELECT substr(w, g.i, 1) AS left_sym, substr(w, g.i + 1, 1) AS right_sym, wc "
            "FROM v, LATERAL UNNEST(generate_series(1, length(w) - 1)) AS g(i)) "
            "SELECT left_sym, right_sym, CAST(SUM(wc) AS BIGINT) AS pair_count "
            "FROM p GROUP BY 1, 2 HAVING SUM(wc) >= 2 "
            "ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT 100"
        ),
    ),
    # Booleans cast to INT for the cross-engine hash.
    Query("gopher_quality_flags", ("documents",), _q_gopher_quality_flags, (
        f"WITH t AS (SELECT doc_id, text, list_filter({_TOKS_SQL}, x -> x <> '') AS toks "
        "FROM documents), "
        "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, "
        "CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS charsum, "
        "CAST(len(regexp_extract_all(text, '#')) "
        "+ len(regexp_extract_all(text, '…|\\.\\.\\.')) AS BIGINT) AS symbols, "
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha, "
        f"CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS BIGINT) "
        "AS n_stopword_hits FROM t), "
        "m AS (SELECT doc_id, n_words, "
        "CASE WHEN n_words > 0 THEN round(charsum / CAST(n_words AS DOUBLE), 6) END AS mean_word_len, "
        "CASE WHEN n_words > 0 THEN round(symbols / CAST(n_words AS DOUBLE), 6) END AS symbol_ratio, "
        "CASE WHEN n_words > 0 THEN round(alpha / CAST(n_words AS DOUBLE), 6) END AS alpha_word_frac, "
        "n_stopword_hits FROM s), "
        "f AS (SELECT *, CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_word_count, "
        "CAST(coalesce(mean_word_len BETWEEN 3.0 AND 10.0, FALSE) AS INT) AS ok_mean_word_len, "
        "CAST(coalesce(symbol_ratio <= 0.1, FALSE) AS INT) AS ok_symbol_ratio, "
        "CAST(coalesce(alpha_word_frac >= 0.8, FALSE) AS INT) AS ok_alpha_words, "
        "CAST(n_stopword_hits >= 2 AS INT) AS ok_stopwords FROM m) "
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, "
        "n_stopword_hits, ok_word_count, ok_mean_word_len, ok_symbol_ratio, "
        "ok_alpha_words, ok_stopwords, "
        "CAST(ok_word_count * ok_mean_word_len * ok_symbol_ratio * ok_alpha_words "
        "* ok_stopwords AS INT) AS passes_all FROM f"
    )),
    Query("vocab_growth", ("documents",), text.vocab_growth, (
        f"WITH d AS (SELECT doc_id, list_filter({_TOKS_SQL}, x -> x <> '') AS toks "
        "FROM documents), "
        "pd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d), "
        "tk AS (SELECT doc_id, unnest(toks) AS t FROM d), "
        "fo AS (SELECT t, MIN(doc_id) AS fd FROM tk GROUP BY t), "
        "nn AS (SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new_types FROM fo GROUP BY 1), "
        "b AS (SELECT pd.doc_id, pd.n_tokens, coalesce(nn.n_new_types, 0) AS n_new_types "
        "FROM pd LEFT JOIN nn ON pd.doc_id = nn.doc_id) "
        "SELECT doc_id, n_tokens, "
        "CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens, "
        "n_new_types, "
        "CAST(SUM(n_new_types) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_size "
        "FROM b ORDER BY doc_id ASC"
    )),
    Query("tokenizer_fertility", ("documents",), text.tokenizer_fertility, (
        f"WITH d AS (SELECT source, "
        f"CAST(len(list_filter({_TOKS_SQL}, x -> x <> '')) AS BIGINT) AS w, "
        "CAST(len(regexp_extract_all(lower(text), '\\w+|[^\\w\\s]')) AS BIGINT) AS p "
        "FROM documents) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(w) AS BIGINT) AS n_words, CAST(SUM(p) AS BIGINT) AS n_pieces, "
        "round(CAST(SUM(p) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS fertility "
        "FROM d GROUP BY source ORDER BY source ASC"
    )),
    Query(
        "domain_balance_weights",
        ("documents",),
        partial(curation.domain_balance_weights, alpha=0.5),
        (
            f"WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            f"CAST(SUM(len(list_filter({_TOKS_SQL}, x -> x <> ''))) AS BIGINT) AS n_tokens "
            "FROM documents GROUP BY source), "
            "t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tt, "
            "SUM(power(CAST(n_tokens AS DOUBLE), 0.5)) AS dd FROM c) "
            "SELECT source, n_docs, n_tokens, "
            "round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_share, "
            "round(power(CAST(n_tokens AS DOUBLE), 0.5) / dd, 6) AS target_share, "
            "round((power(CAST(n_tokens AS DOUBLE), 0.5) / dd) "
            "/ (CAST(n_tokens AS DOUBLE) / tt), 6) AS weight "
            "FROM c CROSS JOIN t ORDER BY source ASC"
        ),
    ),
    Query("embedding_outliers", ("embeddings",), partial(similarity.embedding_outliers, top_k=5), (
        "WITH e AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x, "
        "unnest(generate_series(0, len(embedding) - 1)) AS idx FROM embeddings), "
        "a AS (SELECT label, idx, COUNT(*) AS n, "
        "CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS s FROM e GROUP BY label, idx), "
        "c AS (SELECT label, idx, CAST(CAST(round(round(s / n, 6) * 1000000) AS BIGINT) "
        "AS DOUBLE) / 1000000.0 AS cc FROM a), "
        "d AS (SELECT e.vec_id, e.label, round(CAST(SUM(CAST((x - cc) * (x - cc) "
        "AS DECIMAL(38,12))) AS DOUBLE), 6) AS sq_dist "
        "FROM e JOIN c ON e.label = c.label AND e.idx = c.idx "
        "GROUP BY e.vec_id, e.label), "
        "r AS (SELECT vec_id, label, sq_dist, CAST(row_number() OVER "
        "(PARTITION BY label ORDER BY sq_dist DESC, vec_id ASC) AS INT) AS dist_rank "
        "FROM d) "
        "SELECT vec_id, label, sq_dist, dist_rank FROM r WHERE dist_rank <= 5 "
        "ORDER BY label ASC, dist_rank ASC"
    )),
    # Ties on event_time break by event_id for a total order.
    Query(
        "scd2_event_history",
        ("events",),
        partial(relational.scd2_history, order_cols=("event_id",)),
        (
            "WITH e AS (SELECT user_id AS visitorid, event_type AS event, "
            "ts AS event_time, event_id FROM events), "
            "m AS (SELECT visitorid, event, event_time, event_id, "
            "CASE WHEN row_number() OVER w = 1 "
            "OR NOT (event IS NOT DISTINCT FROM lag(event) OVER w) "
            "THEN 1 ELSE 0 END AS isn FROM e "
            "WINDOW w AS (PARTITION BY visitorid ORDER BY event_time ASC, event_id ASC)), "
            "v AS (SELECT visitorid, event, event_time, "
            "CAST(SUM(isn) OVER (PARTITION BY visitorid "
            "ORDER BY event_time ASC, event_id ASC) AS INT) AS version FROM m), "
            "r AS (SELECT visitorid, version, MIN(event) AS event, "
            "MIN(event_time) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events "
            "FROM v GROUP BY visitorid, version) "
            "SELECT visitorid, version, event, valid_from, "
            "lead(valid_from) OVER (PARTITION BY visitorid ORDER BY version ASC) AS valid_to, "
            "n_events FROM r ORDER BY visitorid ASC, version ASC"
        ),
    ),
    # Batch twin of streaming.stateful_funnel.
    Query(
        "first_touch_funnel",
        ("events",),
        partial(analytics.first_touch_funnel, funnel_steps=["view", "click", "purchase"]),
        (
            "WITH g AS (SELECT user_id AS visitorid, "
            "MIN(ts) FILTER (WHERE event_type = 'view') AS m0, "
            "MIN(ts) FILTER (WHERE event_type = 'click') AS m1, "
            "MIN(ts) FILTER (WHERE event_type = 'purchase') AS m2 "
            "FROM events GROUP BY user_id), "
            "k AS (SELECT visitorid, m0, m1, m2, "
            "CAST(CASE WHEN m0 IS NULL THEN 0 "
            "WHEN m1 IS NULL OR m1 < m0 THEN 1 "
            "WHEN m2 IS NULL OR m2 < m1 THEN 2 ELSE 3 END AS INT) AS steps_reached "
            "FROM g) "
            "SELECT visitorid, steps_reached, "
            "CASE WHEN steps_reached > 0 THEN m0 END AS view_time, "
            "CASE WHEN steps_reached > 1 THEN m1 END AS click_time, "
            "CASE WHEN steps_reached > 2 THEN m2 END AS purchase_time "
            "FROM k ORDER BY visitorid ASC"
        ),
    ),
    Query("decay_attribution", ("events",), analytics.decay_attribution, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
        "FROM ev2 WHERE event = 'purchase'), "
        "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
        "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
        "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
        "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
        "ranked AS (SELECT cid, itemid, row_number() OVER "
        "(PARTITION BY cid ORDER BY tt DESC, tid ASC) AS r FROM pairs), "
        "kept AS (SELECT * FROM ranked WHERE r <= 20), "
        "fan AS (SELECT cid AS fcid, COUNT(*) AS m FROM kept GROUP BY 1) "
        "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
        "round(CAST(SUM(CAST(round("
        "CAST(CAST(1 AS BIGINT) << (m - r) AS DOUBLE) / "
        "CAST((CAST(1 AS BIGINT) << m) - 1 AS DOUBLE), 12) AS DECIMAL(18,12))) "
        "AS DOUBLE), 6) AS credit "
        "FROM kept JOIN fan ON cid = fcid GROUP BY itemid"
    )),
    Query("first_touch_attribution", ("events",), analytics.first_touch_attribution, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
        "FROM ev2 WHERE event = 'purchase'), "
        "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
        "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
        "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
        "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
        "ranked AS (SELECT cid, itemid, row_number() OVER "
        "(PARTITION BY cid ORDER BY tt ASC, tid ASC) AS r FROM pairs) "
        "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS conversions "
        "FROM ranked WHERE r = 1 GROUP BY itemid"
    )),
    Query("snapshot_diff", ("documents",), _q_snapshot_diff, (
        f"WITH o AS (SELECT doc_id, md5({_NORM_TEXT_SQL}) AS od, source AS os "
        "FROM documents WHERE doc_id % 10 <> 0), "
        "n0 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text, "
        "source FROM documents WHERE doc_id % 11 <> 0), "
        "n AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS nd, "
        "source AS ns FROM n0), "
        "j AS (SELECT coalesce(ns, os) AS source, "
        "CASE WHEN os IS NULL THEN 'added' WHEN ns IS NULL THEN 'removed' "
        "WHEN NOT (od IS NOT DISTINCT FROM nd) THEN 'changed' ELSE 'unchanged' END AS st "
        "FROM o FULL OUTER JOIN n USING (doc_id)), "
        "g AS (SELECT source, "
        "CAST(COUNT(*) FILTER (WHERE st = 'added') AS BIGINT) AS n_added, "
        "CAST(COUNT(*) FILTER (WHERE st = 'removed') AS BIGINT) AS n_removed, "
        "CAST(COUNT(*) FILTER (WHERE st = 'changed') AS BIGINT) AS n_changed, "
        "CAST(COUNT(*) FILTER (WHERE st = 'unchanged') AS BIGINT) AS n_unchanged "
        "FROM j GROUP BY source) "
        "SELECT source, n_added, n_removed, n_changed, n_unchanged, "
        "round((n_added + n_removed + n_changed) / "
        "CAST(n_added + n_removed + n_changed + n_unchanged AS DOUBLE), 6) AS churn "
        "FROM g ORDER BY source ASC"
    )),
    Query("distinctive_terms", ("documents",), partial(text.distinctive_terms, k=5, min_count=3), (
        f"WITH tk AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents), "
        "st AS (SELECT source, term, COUNT(*) AS c FROM tk WHERE term <> '' "
        "GROUP BY source, term), "
        "w AS (SELECT source, term, c, "
        "SUM(c) OVER (PARTITION BY term) AS ct, "
        "SUM(c) OVER (PARTITION BY source) AS ns, "
        "SUM(c) OVER () AS n FROM st), "
        "sc AS (SELECT source, term, CAST(c AS BIGINT) AS n_source, "
        "CAST(ct - c AS BIGINT) AS n_rest, "
        "CAST(CAST(c + 1 AS HUGEINT) * CAST((n - ns) - (ct - c) + 1 AS HUGEINT) "
        "* 1000000 // (CAST(ns - c + 1 AS HUGEINT) * CAST(ct - c + 1 AS HUGEINT)) "
        "AS BIGINT) AS odds_ppm FROM w WHERE c >= 3), "
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source "
        "ORDER BY odds_ppm DESC, term ASC) AS INT) AS rank FROM sc) "
        "SELECT source, term, n_source, n_rest, odds_ppm, rank FROM r "
        "WHERE rank <= 5 ORDER BY source ASC, rank ASC"
    )),
    Query("graph_triangles", ("events",), graph.graph_triangles, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "p AS (SELECT visitorid, itemid AS src, LEAD(itemid) OVER "
        "(PARTITION BY visitorid ORDER BY event_time, event_id) AS dst "
        "FROM ev WHERE itemid IS NOT NULL), "
        "t AS (SELECT src, dst, COUNT(*) AS c FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), "
        "pr AS (SELECT src, dst FROM t WHERE c >= 2 AND src <> dst), "
        "e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM pr), "
        "deg AS (SELECT n, COUNT(*) AS d FROM "
        "(SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n), "
        "tri AS (SELECT COUNT(*) AS n_triangles FROM e e1 "
        "JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b "
        "JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b), "
        "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg), "
        "ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e) "
        "SELECT n_nodes, n_edges, CAST(n_triangles AS BIGINT) AS n_triangles, "
        "n_wedges, round(3.0 * n_triangles / CAST(n_wedges AS DOUBLE), 6) "
        "AS transitivity FROM st CROSS JOIN ec CROSS JOIN tri"
    )),
    Query(
        "neardup_histogram",
        ("documents",),
        partial(dedup.neardup_similarity_histogram, hash="portable"),
        (
            f"WITH {_minhash_cte()}, "
            "bkt AS (SELECT least(CAST(floor(jaccard * 20) AS INT), 19) AS bucket, "
            "est_jaccard, jaccard FROM verified), "
            "g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs, "
            "round(CAST(SUM(CAST(est_jaccard - jaccard AS DECIMAL(9,6))) AS DOUBLE) "
            "/ COUNT(*), 6) AS mean_est_error FROM bkt GROUP BY bucket) "
            "SELECT bucket, round(bucket / 20.0, 6) AS bucket_start, n_pairs, "
            "mean_est_error FROM g ORDER BY bucket ASC"
        ),
    ),
    Query("langid_confusion", ("documents",), text.langid_confusion, _langid_confusion_sql()),
    Query("position_attribution", ("events",), analytics.position_attribution, (
        "WITH ev2 AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "conv AS (SELECT visitorid AS cv, event_time AS ct, event_id AS cid "
        "FROM ev2 WHERE event = 'purchase'), "
        "touch AS (SELECT visitorid AS tv, event_time AS tt, event_id AS tid, itemid "
        "FROM ev2 WHERE event = 'view' AND itemid IS NOT NULL), "
        "pairs AS (SELECT cid, itemid, tt, tid FROM conv JOIN touch ON cv = tv "
        "AND tt < ct AND tt >= ct - INTERVAL 86400 SECOND), "
        "ranked AS (SELECT cid, itemid, row_number() OVER "
        "(PARTITION BY cid ORDER BY tt DESC, tid ASC) AS rr FROM pairs), "
        "kept AS (SELECT * FROM ranked WHERE rr <= 20), "
        "fan AS (SELECT cid AS fcid, COUNT(*) AS m FROM kept GROUP BY 1), "
        "cred AS (SELECT cid, itemid, CASE WHEN m = 1 THEN 1000000 "
        "WHEN m = 2 THEN 500000 "
        "WHEN (m - rr + 1) = 1 THEN 400000 WHEN (m - rr + 1) = m THEN 400000 "
        "ELSE 200000 // (m - 2) END AS ppm FROM kept JOIN fan ON cid = fcid) "
        "SELECT itemid, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions_touched, "
        "CAST(SUM(ppm) AS BIGINT) AS credit_ppm FROM cred GROUP BY itemid"
    )),
    Query("cart_abandonment", ("events",), analytics.cart_abandonment_by_item, (
        f"WITH {_EV}, "
        "per AS (SELECT itemid, visitorid, "
        "MAX(CASE WHEN event = 'view' THEN 1 ELSE 0 END) AS v, "
        "MAX(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS p "
        "FROM ev WHERE itemid IS NOT NULL AND event IN ('view', 'purchase') "
        "GROUP BY 1, 2) "
        "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_viewers, "
        "CAST(SUM(p) AS BIGINT) AS n_buyers, "
        "CAST(COUNT(*) - SUM(p) AS BIGINT) AS n_abandoned, "
        "round((COUNT(*) - SUM(p)) / CAST(COUNT(*) AS DOUBLE), 6) "
        "AS abandonment_rate FROM per WHERE v = 1 GROUP BY itemid"
    )),
    Query("repeat_purchase_rate", ("events",), analytics.repeat_purchase_rate, (
        f"WITH {_EV}, "
        "per AS (SELECT itemid, visitorid, COUNT(*) AS n FROM ev "
        "WHERE event = 'purchase' AND itemid IS NOT NULL GROUP BY 1, 2) "
        "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_buyers, "
        "CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_buyers, "
        "CAST(SUM(n) AS BIGINT) AS n_purchases, "
        "round(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) "
        "AS repeat_rate FROM per GROUP BY itemid"
    )),
    Query(
        "skipgram_pmi", ("documents",), partial(text.skipgram_pmi, window=3, k=100, min_count=5),
        (
            # position distance uses ORIGINAL indices (empty tokens filtered
            # as endpoints only), mirroring the zip_with shifted slices
            f"WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
            "p1 AS (SELECT doc_id, i, toks[i] AS t FROM tk, "
            "LATERAL UNNEST(generate_series(1, len(toks))) AS g(i) "
            "WHERE toks[i] <> ''), "
            "pr AS (SELECT least(a.t, b.t) AS ta, greatest(a.t, b.t) AS tb, "
            "COUNT(*) AS np FROM p1 a JOIN p1 b ON a.doc_id = b.doc_id "
            "AND b.i > a.i AND b.i <= a.i + 3 "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 5), "
            "uni AS (SELECT t AS tok, COUNT(*) AS c FROM p1 GROUP BY 1), "
            "tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM uni) "
            "SELECT pr.ta AS token_a, pr.tb AS token_b, CAST(np AS BIGINT) AS n_pair, "
            "CAST((CAST(np AS HUGEINT) * n * 1000000) // "
            "(CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT)) AS BIGINT) AS score_ppm "
            "FROM pr JOIN uni ua ON pr.ta = ua.tok JOIN uni ub ON pr.tb = ub.tok "
            "CROSS JOIN tot "
            "ORDER BY score_ppm DESC, token_a ASC, token_b ASC LIMIT 100"
        ),
    ),
    Query("token_coverage_topk", ("documents",), text.token_coverage_topk, (
        f"WITH tk AS (SELECT unnest({_TOKS_SQL}) AS t FROM documents), "
        "cnt AS (SELECT t, COUNT(*) AS c FROM tk WHERE t <> '' GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM cnt), "
        "ks AS ("
        "SELECT CAST(10 AS BIGINT) AS k, CAST(COALESCE((SELECT SUM(c) FROM "
        "(SELECT c FROM cnt ORDER BY c DESC, t ASC LIMIT 10)), 0) AS BIGINT) AS covered_tokens "
        "UNION ALL SELECT 100, CAST(COALESCE((SELECT SUM(c) FROM "
        "(SELECT c FROM cnt ORDER BY c DESC, t ASC LIMIT 100)), 0) AS BIGINT) "
        "UNION ALL SELECT 1000, CAST(COALESCE((SELECT SUM(c) FROM "
        "(SELECT c FROM cnt ORDER BY c DESC, t ASC LIMIT 1000)), 0) AS BIGINT)) "
        "SELECT k, covered_tokens, total_tokens, "
        "round(covered_tokens / CAST(total_tokens AS DOUBLE), 6) AS coverage "
        "FROM ks CROSS JOIN tot"
    )),
    Query("pii_rate_by_source", ("documents",), curation.pii_rate_by_source, (
        "WITH s1 AS (SELECT source, "
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS ne, "
        "regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<email>', 'g') AS t1 "
        "FROM documents), "
        "s2 AS (SELECT source, ne, "
        "CAST(len(regexp_extract_all(t1, '\\d{3}-\\d{2}-\\d{4}')) AS INT) AS ns, "
        "regexp_replace(t1, '\\d{3}-\\d{2}-\\d{4}', '<ssn>', 'g') AS t2 FROM s1), "
        "s3 AS (SELECT source, ne, ns, "
        "CAST(len(regexp_extract_all(t2, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}')) AS INT) AS np "
        "FROM s2) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(ne) AS BIGINT) AS n_email, "
        "CAST(SUM(ns) AS BIGINT) AS n_ssn, "
        "CAST(SUM(np) AS BIGINT) AS n_phone, "
        "CAST(SUM(CASE WHEN ne + ns + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs, "
        "round(SUM(CASE WHEN ne + ns + np > 0 THEN 1 ELSE 0 END) / "
        "CAST(COUNT(*) AS DOUBLE), 6) AS pii_doc_rate "
        "FROM s3 GROUP BY source"
    )),
    Query("dedup_token_savings", ("documents",), dedup.dedup_token_savings, (
        f"WITH per AS (SELECT source, doc_id, md5({_NORM_TEXT_SQL}) AS fp, "
        f"CAST(len({_TOKS_SQL}) AS BIGINT) AS tok FROM documents), "
        "fl AS (SELECT source, tok, CASE WHEN doc_id = "
        "MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS keep FROM per) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(tok) AS BIGINT) AS n_tokens, "
        "CAST(SUM(keep) AS BIGINT) AS n_kept_docs, "
        "CAST(SUM(tok * keep) AS BIGINT) AS kept_tokens, "
        "round((SUM(tok) - SUM(tok * keep)) / CAST(SUM(tok) AS DOUBLE), 6) "
        "AS token_savings_rate FROM fl GROUP BY source"
    )),
    Query("quantization_error_stats", ("embeddings",), similarity.quantization_error_stats, (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "m AS (SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e), "
        "s AS (SELECT label, v, round(CASE WHEN mx = 0 THEN 1.0 "
        "ELSE 127.0 / mx END, 6) AS scale FROM m), "
        "c AS (SELECT label, scale, i, v[i] AS x FROM s, "
        "LATERAL UNNEST(generate_series(1, len(v))) AS g(i)) "
        "SELECT label, "
        "CAST(SUM(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_vectors, "
        "CAST(COUNT(*) AS BIGINT) AS n_components, "
        "CAST(SUM(CASE WHEN abs(round(x * scale)) = 127 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_saturated, "
        "round(MAX(abs(x - round(x * scale) / scale)), 9) AS max_abs_err "
        "FROM c GROUP BY label"
    )),
    # Catalyst fake path the oracle mirrors; the real WAV decoder is pinned in tests/test_multimodal.py.
    Query("multimodal_audio", ("documents",), _q_multimodal_audio, (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "CAST(8000 * (1 + octet_length(encode(text)) % 3) AS BIGINT) AS sample_rate, "
        "CAST(1 + octet_length(encode(text)) % 2 AS BIGINT) AS n_channels, "
        "CAST(octet_length(encode(text)) * 50 AS BIGINT) AS n_samples, "
        "CAST((octet_length(encode(text)) * CAST(50000 AS BIGINT)) // "
        "(8000 * (1 + octet_length(encode(text)) % 3)) AS BIGINT) AS duration_ms "
        "FROM documents"
    )),
    # Catalyst fake path the oracle mirrors; the real MP4 box walker is pinned in tests/test_multimodal.py.
    Query("multimodal_video", ("documents",), _q_multimodal_video, (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "CAST(octet_length(encode(text)) AS BIGINT) AS n_frames, "
        "CAST(octet_length(encode(text)) * 40 AS BIGINT) AS duration_ms, "
        "CAST(160 * (1 + octet_length(encode(text)) % 4) AS BIGINT) AS width, "
        "CAST(120 * (1 + octet_length(encode(text)) % 4) AS BIGINT) AS height "
        "FROM documents"
    )),
    Query(
        "heavy_hitter_items",
        ("events",),
        partial(analytics.heavy_hitters_2pass, key="itemid", share_ppm=2000),
        (
            f"WITH {_EV}, "
            "src AS (SELECT itemid FROM ev WHERE itemid IS NOT NULL), "
            "n AS (SELECT COUNT(*) AS N FROM src) "
            "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS exact_count, "
            "CAST((1000000 * COUNT(*)) // (SELECT N FROM n) AS BIGINT) AS share_ppm_floor "
            "FROM src GROUP BY itemid "
            "HAVING 1000000 * COUNT(*) >= 2000 * (SELECT N FROM n)"
        ),
    ),
    Query("heavy_hitter_tokens", ("documents",), _q_heavy_hitter_tokens, (
        f"WITH tk AS (SELECT unnest({_TOKS_SQL}) AS token FROM documents), "
        "src AS (SELECT token FROM tk WHERE token <> ''), "
        "n AS (SELECT COUNT(*) AS N FROM src) "
        "SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count, "
        "CAST((1000000 * COUNT(*)) // (SELECT N FROM n) AS BIGINT) AS share_ppm_floor "
        "FROM src GROUP BY token "
        "HAVING 1000000 * COUNT(*) >= 5000 * (SELECT N FROM n)"
    )),
    Query("neardup_cluster_sizes", ("documents",), _q_neardup_cluster_sizes, _clusters_sql(
        threshold=0.9,
        wrap=(
            "SELECT CAST(s AS BIGINT) AS cluster_size, "
            "CAST(COUNT(*) AS BIGINT) AS n_clusters, "
            "CAST(SUM(s) AS BIGINT) AS n_docs FROM "
            "(SELECT cluster_id, COUNT(*) AS s FROM cl GROUP BY 1) "
            "GROUP BY s"
        ),
    )),
    Query("contamination_by_split", ("documents",), _q_contamination_by_split, (
        f"WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents), "
        "g AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram "
        "FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)), "
        "bench AS (SELECT DISTINCT gram FROM g WHERE "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')} "
        "% 1000000 < 200000), "
        "m AS (SELECT DISTINCT d.doc_id, d.gram FROM g d JOIN bench b ON d.gram = b.gram), "
        "c AS (SELECT doc_id, COUNT(*) AS matched FROM m GROUP BY doc_id), "
        "rep AS (SELECT d.doc_id, COALESCE(c.matched, 0) > 0 AS contaminated, "
        f"{portable.phash60_sql(chr(39) + '7:' + chr(39) + ' || CAST(d.doc_id AS VARCHAR)')} "
        "% 1000000 AS h FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id), "
        "sp AS (SELECT CASE WHEN h < 980000 THEN 'train' "
        "WHEN h < 990000 THEN 'val' ELSE 'test' END AS split, contaminated FROM rep) "
        "SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated, "
        "round(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) / "
        "CAST(COUNT(*) AS DOUBLE), 6) AS contamination_rate "
        "FROM sp GROUP BY split"
    )),
    Query("path_conversion_rates", ("events",), _q_path_conversion_rates, (
        "WITH ev AS (SELECT user_id AS visitorid, event_type AS event, "
        "ts AS event_time, event_id FROM events), "
        "lagged AS (SELECT *, lag(event_time) OVER "
        "(PARTITION BY visitorid ORDER BY event_time) AS prev_t FROM ev), "
        "flagged AS (SELECT *, CASE WHEN prev_t IS NULL OR "
        "date_diff('second', prev_t, event_time) > 1800 THEN 1 ELSE 0 END "
        "AS is_new FROM lagged), "
        "sz AS (SELECT *, CAST(visitorid AS VARCHAR) || '_' || "
        "CAST(SUM(is_new) OVER (PARTITION BY visitorid ORDER BY event_time "
        "ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id FROM flagged), "
        "per AS (SELECT session_id, array_to_string("
        "(list(event ORDER BY event_time, event_id))[1:3], '>') AS path_prefix, "
        "MAX(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END) AS c "
        "FROM sz GROUP BY session_id) "
        "SELECT path_prefix, CAST(COUNT(*) AS BIGINT) AS n_sessions, "
        "CAST(SUM(c) AS BIGINT) AS n_converted, "
        "round(SUM(c) / CAST(COUNT(*) AS DOUBLE), 6) AS conversion_rate "
        "FROM per GROUP BY path_prefix"
    )),
    Query("returning_visitor_rate", ("events",), analytics.returning_visitor_rate, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time FROM events), "
        "per AS (SELECT visitorid, COUNT(DISTINCT CAST(event_time AS DATE)) AS d "
        "FROM ev GROUP BY 1) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_visitors, "
        "CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_returning, "
        "round(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) / "
        "CAST(COUNT(*) AS DOUBLE), 6) AS returning_rate FROM per"
    )),
    Query("lsh_band_census", ("documents",), partial(dedup.minhash_band_census, hash="portable"), (
        f"WITH {_minhash_cte()} "
        "SELECT CAST(n AS BIGINT) AS bucket_size, "
        "CAST(COUNT(*) AS BIGINT) AS n_buckets, "
        "CAST(SUM(n) AS BIGINT) AS n_rows FROM "
        "(SELECT band_idx, band_key, COUNT(*) AS n FROM bnd GROUP BY 1, 2) "
        "GROUP BY 1"
    )),
    Query("decile_revenue_share", ("orders",), analytics.decile_revenue_share, (
        "WITH spend AS (SELECT o_custkey, "
        "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS cents "
        "FROM orders GROUP BY 1), "
        "d AS (SELECT o_custkey, cents, "
        "ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile FROM spend), "
        "per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers, "
        "CAST(SUM(cents) AS BIGINT) AS cents FROM d GROUP BY 1) "
        "SELECT decile, n_customers, cents / 10000.0 AS revenue, "
        "round(CAST(cents AS DOUBLE) / CAST((SELECT SUM(cents) FROM per) AS DOUBLE), 6) "
        "AS revenue_share FROM per"
    )),
    Query("item_revisit_time", ("events",), analytics.item_revisit_time, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id, "
        "CAST(regexp_extract(props, '(\\d+)', 1) AS BIGINT) AS itemid FROM events), "
        "g AS (SELECT itemid, date_diff('second', event_time, "
        "lead(event_time) OVER (PARTITION BY visitorid, itemid "
        "ORDER BY event_time, event_id)) AS gap "
        "FROM ev WHERE itemid IS NOT NULL) "
        "SELECT itemid, CAST(COUNT(*) AS BIGINT) AS n_revisits, "
        "round(AVG(gap), 6) AS avg_revisit_s, "
        "CAST(MAX(gap) AS BIGINT) AS max_revisit_s "
        "FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 5"
    )),
    # The empirical basis for the 1800 s session threshold.
    Query("session_gap_histogram", ("events",), analytics.session_gap_histogram, (
        "WITH ev AS (SELECT user_id AS visitorid, ts AS event_time, event_id "
        "FROM events), "
        "g AS (SELECT date_diff('second', event_time, "
        "lead(event_time) OVER (PARTITION BY visitorid "
        "ORDER BY event_time, event_id)) AS gap FROM ev), "
        "b AS (SELECT CAST(floor(log2(gap + 1)) AS BIGINT) AS gap_bucket "
        "FROM g WHERE gap IS NOT NULL) "
        "SELECT gap_bucket, "
        "CAST(pow(2.0, gap_bucket) - 1 AS BIGINT) AS bucket_min_s, "
        "CAST(COUNT(*) AS BIGINT) AS n_gaps FROM b GROUP BY 1"
    )),
)


# Driver-sampling order (the driver hash-checks a ~50-query PREFIX each
# round, so position IS the verification schedule). Rule, per VERDICT r6:
# queries whose LATEST driver signal is a FAIL outrank never-sampled ones,
# which outrank queries changed this round, which outrank the green tail.
_SAMPLING_PRIORITY: list[str] = [
    # Rule (VERDICT r6/r8 #7, r10 #4): latest-FAIL first (none — r15 went
    # 50/50 green), then never-sampled (none), then queries whose PLAN or
    # RESULTS changed this round, then oldest-green-first rotation.
    # Post-r15 staleness histogram (last driver-sampled round): r11=5,
    # r12=47, r13=47, r14=50, r15=50 — VERDICT r15 #5: this round drains
    # the r11 remainder so the post-r16 oldest vintage is r12.
    # 0) plan changed in round 16: graph_triangles probes its bounded
    #    local-path cap from the MATERIALIZED edge frame (one edge-pipeline
    #    pass instead of probe + checkpoint recompute). Results are
    #    construction-identical (same edges, same census) but the action
    #    sequence is new — it leads the sample.
    "graph_triangles",
    # 1) r11-vintage remainder (alphabetical) — all 5
    "value_quantiles_by_event",
    "view_purchase_attribution",
    "view_purchase_attribution_outer",
    "windowed_conversion_rate",
    "zipf_slope",
    # 2) r12-vintage (alphabetical; graph_triangles already leads) — the
    #    next-oldest cohort fills the ~50-row sample; the tail rolls to
    #    the next round
    "bpe_merge_step",
    "cart_abandonment",
    "collocations",
    "contamination_by_split",
    "corpus_stats",
    "cross_source_duplication",
    "customer_value_deciles",
    "decile_revenue_share",
    "dedup_token_savings",
    "distinctive_terms",
    "domain_balance_weights",
    "dup_rate_by_source",
    "duplicate_spans",
    "embedding_dim_stats",
    "embedding_outliers",
    "event_type_pivot",
    "events_column_profile",
    "first_touch_funnel",
    "gini_concentration",
    "gopher_quality_flags",
    "item_communities",
    "item_cooccurrence",
    "item_degree_profile",
    "item_dwell_time",
    "item_pagerank",
    "item_transitions",
    "label_centroids",
    "langid_confusion",
    "multimodal_audio",
    "neardup_histogram",
    "next_item_recs",
    "order_gap_stats",
    "packed_corpus",
    "quality_dup_calibration",
    "readability_scores",
    "rec_coverage",
    "repetition_score",
    "session_entry_exit",
    "similar_docs_topk",
    "source_vocab_overlap",
    "tfidf_top_terms",
    "timed_funnel",
    "token_length_distribution",
    "tpch_q12_priority_classes",
    "tpch_q14_promo_revenue",
    "transition_entropy",
]


def _apply_sampling_priority(qs: tuple[Query, ...]) -> tuple[Query, ...]:
    names = {q.name for q in qs}
    missing = [n for n in _SAMPLING_PRIORITY if n not in names]
    assert not missing, f"_SAMPLING_PRIORITY names unknown queries: {missing}"
    rank = {n: i for i, n in enumerate(_SAMPLING_PRIORITY)}
    return tuple(sorted(qs, key=lambda q: rank.get(q.name, len(rank))))


_QUERIES = _apply_sampling_priority(_QUERIES)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: partial(_run, q) for q in _QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _QUERIES}
