"""Web-corpus hygiene operators (extension E3 — SURVEY.md §2.2):
corpus-level boilerplate removal and URL canonicalization/dedup — the
two standard web-pipeline stages between raw crawl and quality
filtering (the RefinedWeb / CCNet line-dedup pass and the C4-style
URL normalization pass).

The reference engine has no corpus-level text hygiene at all (its
jobs are wc and ii, mapper.go:170-230); pure extension surface.

Scale design:
  * ``strip_boilerplate`` segments each document into fixed
    ``SEG_WORDS``-word units (the stand-in for "lines" — the
    synthetic corpus is single-line), counts DISTINCT documents per
    segment with one hash aggregation (map-side partial, shuffle
    O(distinct segments)), and BROADCASTS the small frequent-segment
    set back onto the segment stream as a map-side hash probe — the
    segment stream itself is shuffled only once more, by doc_id, to
    reassemble cleaned documents in position order.  The
    alternative — array_contains against a collected boilerplate
    array — is O(segments × |boilerplate|) per doc and dies when the
    boilerplate set grows past a few hundred entries; the hash probe
    is O(1) per segment regardless.
  * At 100 TB the frequency pass and the reassembly pass each scan
    the documents table once (two pruned 2-column scans); a real
    deployment would persist the segment stream between them, but
    re-scanning parquet is itself scale-safe and keeps this a pure
    dataflow.  Counting distinct docs per segment is the textbook
    two-level agg (segment×doc → segment), both levels partial.
  * ``canonicalize_urls`` is map-only regexp surgery (fragment
    strip, scheme/host lowercasing, www/default-port removal,
    utm-param excision) followed by ONE shuffle — a window min over
    the canonical URL — to elect each URL's keeper document.  No
    joins; no capture-group backreferences in any replacement, so
    Spark (Java regex) and DuckDB (RE2) agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import table

#: Segment width (words) — the corpus-dedup unit standing in for a
#: "line" of a multi-line web document.
SEG_WORDS = 10
#: A segment is boilerplate when it appears in at least this many
#: distinct documents (RefinedWeb uses document-frequency, not raw
#: occurrence count, so a doc repeating its own segment is NOT
#: boilerplate).
BOILERPLATE_MIN_DOCS = 2


def _segments(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, seg): non-overlapping ``SEG_WORDS``-word segments
    of each document with ≥1 word, in position order.  The word array
    is materialized before the transform lambda touches it (Catalyst
    does not CSE into lambda scopes — quality_filters.py rationale)."""
    ws = F.col("ws")
    n_seg = F.expr(f"(size(ws) + {SEG_WORDS - 1}) DIV {SEG_WORDS}")
    segs = F.transform(
        F.sequence(F.lit(0), (n_seg - 1).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(ws, i * SEG_WORDS + 1, SEG_WORDS)),
    )
    return (
        docs.select("doc_id", words("text").alias("ws"))
        .filter(F.size("ws") >= 1)
        .select("doc_id", F.posexplode(segs).alias("pos", "seg"))
    )


def strip_boilerplate(docs: DataFrame) -> DataFrame:
    """Remove corpus-level boilerplate segments (in at least
    ``BOILERPLATE_MIN_DOCS`` documents) from every document.

    Output (one row per doc with ≥1 word):
      * ``n_segs`` / ``n_removed`` / ``n_kept`` — segment counts;
      * ``cleaned_md5`` — md5 of the document's surviving segments
        re-joined in position order (md5('') when everything was
        boilerplate), so the full cleaned text is verified without
        hauling it through the comparison.
    """
    segs = _segments(docs)
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILERPLATE_MIN_DOCS)
        .select("seg", F.lit(True).alias("_bl"))
    )
    marked = segs.join(F.broadcast(boiler), "seg", "left").withColumn(
        "is_bl", F.col("_bl").isNotNull()
    )
    parts = F.array_sort(
        F.collect_list(F.struct("pos", "is_bl", "seg"))
    )
    cleaned = F.concat_ws(
        " ",
        F.transform(
            F.filter(parts, lambda s: ~s["is_bl"]), lambda s: s["seg"]
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.col("is_bl").cast("long")).alias("n_removed"),
        F.sum((~F.col("is_bl")).cast("long")).alias("n_kept"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strip_boilerplate(table(spark, sf_dir, "documents"))


ORACLE_BOILERPLATE = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w <> '') AS ws
    FROM documents
),
segs AS (
    SELECT doc_id,
           unnest(range(0, CAST((len(ws) + {SEG_WORDS - 1}) // {SEG_WORDS}
                          AS INT))) AS pos,
           unnest(list_transform(
               range(0, CAST((len(ws) + {SEG_WORDS - 1}) // {SEG_WORDS} AS INT)),
               i -> array_to_string(ws[i*{SEG_WORDS}+1 : i*{SEG_WORDS}+{SEG_WORDS}],
                                    ' '))) AS seg
    FROM toks WHERE len(ws) >= 1
),
bl AS (
    SELECT seg FROM segs GROUP BY seg
    HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
),
marked AS (
    SELECT s.doc_id, s.pos, s.seg, b.seg IS NOT NULL AS is_bl
    FROM segs s LEFT JOIN bl b USING (seg)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN is_bl THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN is_bl THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN NOT is_bl THEN seg END, ' '
                               ORDER BY pos), '')) AS cleaned_md5
FROM marked GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# URL canonicalization + canonical-URL dedup.
#
# The synthetic corpus has no URL column, so the registered query
# FABRICATES a deterministic messy URL per doc (mixed-case scheme and
# host, www prefix, explicit default :443 port, utm_* tracking
# params, fragment) — the canonicalization rules are therefore
# actually exercised and hash-checked, pii_redact-style.  Moduli are
# chosen so distinct canonical URLs < corpus size and real duplicate
# groups form.

def canonicalize_urls(df: DataFrame, url_col: str) -> DataFrame:
    """Adds ``canon_url`` + ``host``: fragment stripped, scheme and
    host lowercased, leading ``www.`` and https default ``:443`` port
    dropped, ``utm_*`` query params excised (tidying separators),
    path and non-tracking params preserved case-sensitively."""
    u = F.regexp_replace(F.col(url_col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":443$", "")
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$", 1)
    # utm params: mid-query first (trailing & goes with them), then a
    # trailing one (its LEADING ? or & must go) — no backreferences.
    rest = F.regexp_replace(rest, r"utm_[^&?#]*&", "")
    rest = F.regexp_replace(rest, r"[?&]utm_[^&?#]*$", "")
    return df.withColumns(
        {"host": host, "canon_url": F.concat(scheme, F.lit("://"), host, rest)}
    )


def url_dedup(df: DataFrame, url_col: str) -> DataFrame:
    """Canonicalize and elect one keeper doc per canonical URL
    (min doc_id).  One shuffle: the window over ``canon_url``."""
    canon = canonicalize_urls(df, url_col)
    w = Window.partitionBy("canon_url")
    return canon.select(
        "doc_id",
        "host",
        "canon_url",
        F.min("doc_id").over(w).alias("keeper_doc_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(F.col("source")),
        F.lit(".Example.COM:443/Articles/"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("?id="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_source=feed&utm_campaign=c"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("#section-"),
        (F.col("doc_id") % 4).cast("string"),
    )
    return url_dedup(docs.select("doc_id", url.alias("url")), "url")


ORACLE_URL_DEDUP = """
WITH raw AS (
    SELECT doc_id,
           'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Articles/' ||
           CAST(doc_id % 3 AS VARCHAR) || '?id=' || CAST(doc_id % 7 AS VARCHAR) ||
           '&utm_source=feed&utm_campaign=c' || CAST(doc_id % 5 AS VARCHAR) ||
           '#section-' || CAST(doc_id % 4 AS VARCHAR) AS url
    FROM documents
),
nofrag AS (
    SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
),
parts AS (
    SELECT doc_id,
           lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           regexp_replace(regexp_replace(
               lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
               '^www\\.', ''), ':443$', '') AS host,
           regexp_replace(regexp_replace(
               regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1),
               'utm_[^&?#]*&', ''), '[?&]utm_[^&?#]*$', '') AS rest
    FROM nofrag
),
canon AS (
    SELECT doc_id, host, scheme || '://' || host || rest AS canon_url FROM parts
)
SELECT doc_id, host, canon_url,
       min(doc_id) OVER w AS keeper_doc_id,
       doc_id <> min(doc_id) OVER w AS is_dup
FROM canon
WINDOW w AS (PARTITION BY canon_url)
"""


QUERIES = [
    ("docs_boilerplate_strip", q_boilerplate_strip, ORACLE_BOILERPLATE,
     "Corpus-level boilerplate removal: frequent cross-doc segments "
     "stripped via broadcast probe, cleaned text md5-verified."),
    ("url_canonical_dedup", q_url_dedup, ORACLE_URL_DEDUP,
     "URL canonicalization (scheme/host case, www, default port, "
     "utm params, fragment) + keeper election per canonical URL."),
]
