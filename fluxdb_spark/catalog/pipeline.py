"""Catalog entries: training-data pipeline operators — dedup /
similarity / text / curation / multimodal (SURVEY §2.8)."""

from __future__ import annotations

from __future__ import annotations
from collections.abc import Callable
from dataclasses import dataclass
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from fluxdb_spark.functions import baskets as bk
from fluxdb_spark.functions import bpe
from fluxdb_spark.functions import curation as cu
from fluxdb_spark.functions import dedup as dd
from fluxdb_spark.functions import similarity as sim
from fluxdb_spark.functions import text as tx
from fluxdb_spark.functions.hashing import hash60, hash60_sql
from fluxdb_spark.operators import bloomjoin as bj
from fluxdb_spark.operators import layout as ly
from fluxdb_spark.operators import temporal as tp
from fluxdb_spark.operators import sharding as sh
from fluxdb_spark.operators import snapshot as sn
from fluxdb_spark.sources.changelog import (
    CHANGELOG_CTE,
    SINGLET_CTE,
    changelog_from_events,
    singlet_log_from_events,
)
from fluxdb_spark.sources.tables import load_table, normalize_event_ts
from fluxdb_spark.session import spread

from fluxdb_spark.catalog._core import _q, _t, _td
from fluxdb_spark.catalog._shared import (
    _BENFORD_PPM,
    _DECONTAM_SQL,
    _FINGERPRINT_SQL,
    _IVF_BALANCE_SQL,
    _SEASONALITY_SQL,
    _SEASON_DOW,
    _SEASON_HOUR,
    _SHINGLE_DF_SQL,
    _SPECTRUM_SQL,
    _fingerprint_all_row,
    _fingerprint_per_source,
    _gcent,
    _ivf_balance_finish,
    _kcents8,
    _seasonality_finish,
    _shingle_df_finish,
    _spectrum_finish,
    _WINNOW_SQL,
    _winnow_finish,
    _winnow_profile,
)



# =========================================================================
# 3. Training-data pipeline operators (dedup / similarity / text / multimodal)
# =========================================================================


@_q(
    "text_stats",
    "pipeline",
    f"""
SELECT doc_id,
       {tx.sql_token_count('text')} AS n_tokens,
       len(regexp_extract_all(lower(text), '{tx.WORD_RE}')) AS n_wordpieces,
       length(text) AS n_chars,
       {tx.sql_marker_hits('text', tx.STOPWORDS)} AS n_stopwords
FROM documents
""",
)
def text_stats(spark, sf_dir):
    """Token counting + basic text statistics (JVM-side expressions only)."""
    d = _td(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.wordpiece_count(F.col("text")).alias("n_wordpieces"),
        F.length("text").alias("n_chars"),
        tx.marker_hits(F.col("text"), tx.STOPWORDS).alias("n_stopwords"),
    )


@_q(
    "text_quality",
    "pipeline",
    f"""
SELECT doc_id, lang,
       floor((0.5 * least({tx.sql_token_count('text')} / 100.0, 1.0)
            + 0.5 * ({tx.sql_marker_hits('text', tx.STOPWORDS)}
                     * 1.0 / {tx.sql_token_count('text')})) * 10000) / 10000.0
         AS quality,
       {tx.sql_lang_id('text')} AS lang_pred
FROM documents
""",
)
def text_quality(spark, sf_dir):
    """Quality scoring + language-ID heuristic."""
    d = _td(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        tx.quality_score(F.col("text")).alias("quality"),
        tx.lang_id(F.col("text")).alias("lang_pred"),
    )


@_q(
    "lang_distribution",
    "pipeline",
    f"""
SELECT {tx.sql_lang_id('text')} AS lang_pred, count(*) AS n
FROM documents GROUP BY 1
""",
)
def lang_distribution(spark, sf_dir):
    d = _td(spark, sf_dir)
    return d.groupBy(tx.lang_id(F.col("text")).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


_LANG_EVAL_SQL = f"""
WITH pred AS (
  SELECT lang AS gold, {tx.sql_lang_id('text')} AS lang_pred
  FROM documents),
cells AS MATERIALIZED (
  SELECT gold, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2),
gtot AS (SELECT gold, CAST(sum(n) AS BIGINT) AS n_gold FROM cells GROUP BY 1),
ptot AS (SELECT lang_pred, CAST(sum(n) AS BIGINT) AS n_pred
         FROM cells GROUP BY 1)
SELECT c.gold, c.lang_pred, c.n,
       (c.n * 1000000) // g.n_gold AS recall_ppm,
       (c.n * 1000000) // p.n_pred AS precision_ppm
FROM cells c JOIN gtot g USING (gold) JOIN ptot p USING (lang_pred)
"""


_DATA_CARD_SQL = f"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({tx.sql_token_count('text')}) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN {tx.sql_quality_rules('text')['keep']}
                  THEN 1 ELSE 0 END) AS BIGINT) AS quality_keep_docs,
         CAST(sum(CASE WHEN {tx.sql_pii_stats('text')['n_emails']}
                       + {tx.sql_pii_stats('text')['n_phones']} > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
         CAST(sum(CASE WHEN {tx.sql_lang_id('text')} = 'en'
                  THEN 1 ELSE 0 END) AS BIGINT) AS en_docs
  FROM documents),
vocab AS (
  SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab_terms
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
        FROM documents)),
exact AS (
  SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS exact_dup_docs
  FROM (SELECT count(*) AS c FROM (
          SELECT lower(array_to_string((string_split(text, ' '))[1:8], ' '))
            AS norm_key
          FROM documents) GROUP BY norm_key HAVING count(*) > 1)),
nd AS (SELECT CAST(count(*) AS BIGINT) AS neardup_pairs
       FROM (SELECT a.doc_id AS d1, b.doc_id AS d2
             FROM ({dd.sql_simhash()}) a JOIN ({dd.sql_simhash()}) b
               ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 3))
SELECT 'n_docs' AS metric, n_docs AS value FROM base
UNION ALL SELECT 'total_tokens', total_tokens FROM base
UNION ALL SELECT 'mean_doc_tokens_x100',
                 (total_tokens * 100) // n_docs FROM base
UNION ALL SELECT 'vocab_terms', vocab_terms FROM vocab
UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM exact
UNION ALL SELECT 'neardup_pairs_simhash', neardup_pairs FROM nd
UNION ALL SELECT 'quality_keep_docs', quality_keep_docs FROM base
UNION ALL SELECT 'pii_docs', pii_docs FROM base
UNION ALL SELECT 'lang_en_ppm', (en_docs * 1000000) // n_docs FROM base
"""


@_q("data_card", "pipeline", _DATA_CARD_SQL)
def data_card(spark, sf_dir):
    """The DATASHEET a corpus release publishes, as one query (Gebru et
    al. "Datasheets for Datasets" — the numbers section): document and
    token counts, vocabulary size, exact-dup and near-dup mass, Gopher
    keep rate, PII incidence, language share — every number integer-
    exact and produced by the engine's own primitives, so the published
    card and the pipeline can never disagree. One conditional-aggregate
    scan carries all doc-level metrics; vocabulary is one distinct
    groupBy; dup mass reuses the exact-key groupBy and the banded
    SimHash pair join. Returns (metric, value) BIGINT rows."""
    d = _td(spark, sf_dir)
    pii = tx.pii_stats(F.col("text"))
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tx.token_count(F.col("text"))).cast("long").alias(
            "total_tokens"
        ),
        F.sum(
            F.when(tx.quality_rules(F.col("text"))["keep"], 1).otherwise(0)
        ).cast("long").alias("quality_keep_docs"),
        F.sum(
            F.when(pii["n_emails"] + pii["n_phones"] > 0, 1).otherwise(0)
        ).cast("long").alias("pii_docs"),
        F.sum(
            F.when(tx.lang_id(F.col("text")) == "en", 1).otherwise(0)
        ).cast("long").alias("en_docs"),
    )
    vocab = (
        d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("term"))
        .agg(F.countDistinct("term").cast("long").alias("vocab_terms"))
    )
    norm_key = F.lower(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8))
    )
    exact = (
        d.groupBy(norm_key.alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long")
             .alias("exact_dup_docs"))
    )
    nd = dd.simhash_pairs(d, max_distance=3).agg(
        F.count(F.lit(1)).cast("long").alias("neardup_pairs")
    )
    one = (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(nd))
    )
    return one.selectExpr(
        "stack(9, "
        "'n_docs', n_docs, "
        "'total_tokens', total_tokens, "
        "'mean_doc_tokens_x100', (total_tokens * 100) div n_docs, "
        "'vocab_terms', vocab_terms, "
        "'exact_dup_docs', exact_dup_docs, "
        "'neardup_pairs_simhash', neardup_pairs, "
        "'quality_keep_docs', quality_keep_docs, "
        "'pii_docs', pii_docs, "
        "'lang_en_ppm', (en_docs * 1000000) div n_docs"
        ") as (metric, value)"
    )


@_q("lang_id_eval", "pipeline", _LANG_EVAL_SQL)
def lang_id_eval(spark, sf_dir):
    """The language-ID EVALUATION HARNESS as a query (the third member
    of the eval triad beside `embed_recall_eval` / `dedup_recall_eval`):
    the full confusion matrix of the marker-set heuristic against the
    corpus's gold lang labels, each cell carrying per-language recall
    (cell / gold-row total) and precision (cell / predicted-column
    total) in integer ppm — the report that decides whether the cheap
    heuristic can gate a language-filtered training mix. One map-side
    classification pass into a |langs|^2-bounded rollup; the two margin
    relations re-aggregate the cell relation and join back broadcast."""
    d = _td(spark, sf_dir)
    cells = (
        d.groupBy(
            F.col("lang").alias("gold"),
            tx.lang_id(F.col("text")).alias("lang_pred"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    gtot = cells.groupBy("gold").agg(F.sum("n").cast("long").alias("n_gold"))
    ptot = cells.groupBy("lang_pred").agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    return (
        cells.join(F.broadcast(gtot), "gold")
        .join(F.broadcast(ptot), "lang_pred")
        .select(
            "gold",
            "lang_pred",
            "n",
            F.expr("(n * 1000000) div n_gold").alias("recall_ppm"),
            F.expr("(n * 1000000) div n_pred").alias("precision_ppm"),
        )
    )


_QF_SQL = tx.sql_quality_rules("text")

@_q(
    "quality_filter",
    "pipeline",
    f"""
SELECT doc_id,
       CAST({_QF_SQL['n_words']} AS BIGINT) AS n_words,
       {_QF_SQL['mean_word_len']} AS mean_word_len,
       CAST({_QF_SQL['n_distinct_stopwords']} AS BIGINT) AS n_distinct_stopwords,
       {_QF_SQL['ok_len']} AS ok_len,
       {_QF_SQL['ok_mean_len']} AS ok_mean_len,
       {_QF_SQL['ok_stopwords']} AS ok_stopwords,
       {_QF_SQL['keep']} AS keep
FROM documents
""",
)
def quality_filter(spark, sf_dir):
    """Gopher/C4-style quality filtering: per-document rule booleans
    (word-count bounds, mean word length in [3,10], >= 2 distinct
    stopwords) and the conjunctive keep decision. Map-side only — the
    filter runs at scan speed on any corpus size. Line/paragraph rules are
    deliberately absent: this corpus is single-line, so they would pass
    vacuously and verify nothing."""
    d = _td(spark, sf_dir)
    rules = tx.quality_rules(F.col("text"))
    return d.select(
        "doc_id",
        rules["n_words"].cast("long").alias("n_words"),
        rules["mean_word_len"].alias("mean_word_len"),
        rules["n_distinct_stopwords"].cast("long").alias(
            "n_distinct_stopwords"
        ),
        rules["ok_len"].alias("ok_len"),
        rules["ok_mean_len"].alias("ok_mean_len"),
        rules["ok_stopwords"].alias("ok_stopwords"),
        rules["keep"].alias("keep"),
    )


_BLOCKLIST_HITS = tx.sql_marker_hits("text", tx.BLOCKLIST)

_BLOCKLIST_SQL = f"""
WITH per_doc AS (
  SELECT source, {_BLOCKLIST_HITS} AS hits FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS flag_rate
FROM per_doc GROUP BY source
"""


@_q("blocklist_audit", "pipeline", _BLOCKLIST_SQL)
def blocklist_audit(spark, sf_dir):
    """C4's blocklist drop rule as a per-source audit: exact-token hit
    counts ("duplicate" never trips "dup") flag documents map-side at
    scan speed (functions/text.blocklist_screen, which also applies the
    drop with keep="clean"); the rollup shows which sources carry the
    listed words and how hard the rule would bite — the report run
    BEFORE committing to a drop list. Output is |sources| rows;
    flag_rate is ONE double division of exact counts."""
    scr = tx.blocklist_screen(_td(spark, sf_dir))
    return scr.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("flagged").cast("long")).cast("long").alias(
            "n_flagged"
        ),
        F.sum("blocklist_hits").cast("long").alias("total_hits"),
        (
            F.sum(F.col("flagged").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("flag_rate"),
    )


_PII_SQL = tx.sql_pii_stats("text")

@_q(
    "pii_scrub",
    "pipeline",
    f"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       CAST({_PII_SQL['n_emails']} AS BIGINT) AS n_emails,
       CAST({_PII_SQL['n_phones']} AS BIGINT) AS n_phones,
       md5({_PII_SQL['redacted']}) AS redacted_md5
FROM injected
""",
)
def pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails, phone numbers) with
    dialect-portable regexes. The corpus is synthetic word-salad with no
    natural PII, so both engines deterministically inject doc_id-derived
    emails (every 7th doc) and phones (every 11th) inside the query —
    a broken detector or redactor then actually fails the hash (the
    de-vacuation pattern from dedup_exact). Output carries md5(redacted)
    so the full transformed text is hash-checked without shipping it."""
    d = _td(spark, sf_dir)
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    p = tx.pii_stats(injected)
    return d.select(
        "doc_id",
        p["n_emails"].cast("long").alias("n_emails"),
        p["n_phones"].cast("long").alias("n_phones"),
        F.md5(p["redacted"]).alias("redacted_md5"),
    )


@_q("repetition_stats", "pipeline", tx.SQL_REPETITION_STATS)
def repetition_stats(spark, sf_dir):
    """Gopher repetition rules (word/n-gram form): duplicate-word fraction,
    top-word fraction, top-2-gram coverage fraction per document — the
    signals that catch boilerplate and degenerate generations. Two
    explode->groupBy aggregations keyed (doc, term); fractions depend only
    on counts, so no tie-breaking order is needed for determinism."""
    return tx.repetition_stats(_td(spark, sf_dir))


@_q(
    "doc_fingerprint",
    "pipeline",
    f"""
SELECT doc_id, md5(text) AS md5_hex,
       {hash60_sql('text')} AS content_hash,
       list_min(list_transform(range(1, length(text) - 6),
                i -> CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)))
         AS min_gram_hash
FROM documents
""",
)
def doc_fingerprint(spark, sf_dir):
    """Content fingerprints: md5, 60-bit hash, and min-8-gram rolling-window
    fingerprint (the winnowing building block) — all JVM-side."""
    d = _td(spark, sf_dir)
    idx = F.sequence(F.lit(1), F.length("text") - 7, F.lit(1))
    min_gram = F.array_min(
        F.transform(idx, lambda i: hash60(F.col("text").substr(i, F.lit(8))))
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        hash60(F.col("text")).alias("content_hash"),
        min_gram.alias("min_gram_hash"),
    )


@_q(
    "dedup_exact",
    "pipeline",
    f"""
WITH keyed AS (
  SELECT doc_id,
         lower(array_to_string((string_split(text, ' '))[1:8], ' ')) AS norm_key
  FROM documents)
SELECT {hash60_sql('norm_key')} AS content_hash, count(*) AS n_docs,
       min(doc_id) AS keep_doc
FROM keyed GROUP BY 1 HAVING count(*) > 1
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy with map-side combine; keeps min doc_id.

    The dedup key is a normalized content prefix (lowercased first 8
    whitespace tokens) rather than the raw text — the standard
    "exact dedup on a canonicalized key" pipeline stage, and a key the
    synthetic corpus actually collides on (raw-text hashing matches zero
    rows at every SF, which would make this check vacuous)."""
    d = _td(spark, sf_dir)
    norm_key = F.lower(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8))
    )
    return (
        d.groupBy(hash60(norm_key).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _jaccard_sql(threshold: float) -> str:
    """Naive exact shingle-Jaccard pair SQL at `threshold` — the oracle
    that proves the PPJoin prefix filter lossless at every cut point."""
    return f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
scored AS (
  SELECT d1, d2,
         round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
  FROM inter
  JOIN shsize sa ON sa.doc_id = d1
  JOIN shsize sb ON sb.doc_id = d2)
SELECT d1, d2, jaccard FROM scored WHERE jaccard >= {threshold}
"""


_JACCARD_SQL = _jaccard_sql(0.8)


@_q("dedup_ngram", "pipeline", _JACCARD_SQL)
def dedup_ngram(spark, sf_dir):
    """N-gram (3-word shingle) Jaccard near-dup pairs at >= 0.8."""
    d = _t(spark, sf_dir, "documents")
    return dd.jaccard_pairs(d, 0.8)


@_q(
    "entity_resolution",
    "pipeline",
    dd.sql_resolve_entities("p_name", "part", 2),
)
def entity_resolution(spark, sf_dir):
    """End-to-end entity resolution on p_name: Ed-Join pair search ->
    connected components (min-label propagation) -> survivorship by
    frequency (the most-rows variant is each cluster's canonical form,
    ties lexicographic) — the full data-cleaning loop as one relation a
    MERGE can consume, every distinct value mapped (singletons to
    themselves). Everything after the distinct groupBy runs on the
    vocabulary-bounded value relation (functions/dedup.
    resolve_entities); the oracle closes the same pair graph with a
    recursive CTE."""
    p = _t(spark, sf_dir, "part")
    return dd.resolve_entities(p, "p_name", 2)


@_q(
    "source_dedup_matrix",
    "pipeline",
    f"""
WITH pairs AS MATERIALIZED ({_JACCARD_SQL}),
m AS (
  SELECT da.source AS source_a, db.source AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = d1
  JOIN documents db ON db.doc_id = d2)
SELECT least(source_a, source_b) AS source_a,
       greatest(source_a, source_b) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM m GROUP BY 1, 2
""",
)
def source_dedup_matrix(spark, sf_dir):
    """Cross-SOURCE duplication flow — which sources mirror which: the
    near-dup pairs from the exact Jaccard join mapped back to their
    documents' sources and rolled up into an unordered (source_a,
    source_b, n_pairs) matrix. Off-diagonal mass is the mirror/
    plagiarism signal (a crawl pipeline drops or down-weights the
    copying source); the diagonal is within-source boilerplate. The
    source lookup joins BROADCAST (two id->source projections); output
    is |sources|^2/2 rows at any corpus size."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, 0.8).select("d1", "d2")
    src = d.select("doc_id", "source")
    m = (
        pairs.join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("d1"),
                    F.col("source").alias("sa"),
                )
            ),
            "d1",
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("doc_id").alias("d2"),
                    F.col("source").alias("sb"),
                )
            ),
            "d2",
        )
    )
    return m.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@_q("dedup_pagerank", "pipeline", dd.sql_duplication_pagerank(_JACCARD_SQL))
def dedup_pagerank(spark, sf_dir):
    """Duplication-HUB centrality: integer PageRank over the >= 0.8
    Jaccard near-dup graph — which documents are the templates and
    boilerplate carriers at the center of the duplication structure
    (score grows with centrality, not just raw degree). Three unrolled
    power iterations in scaled-integer arithmetic (every division an
    integral div spelled identically in the DuckDB twin — the k-means
    fixed-point discipline), each one equi-join + combine-friendly
    groupBy on the |pairs| relation; node count rides a 1-row
    broadcast; top-k is sort+limit (functions/dedup.
    duplication_pagerank). At corpus scale the pair input comes from
    banded LSH; here it reuses dedup_ngram's exact prefix-filtered
    join."""
    d = _t(spark, sf_dir, "documents")
    return dd.duplication_pagerank(dd.jaccard_pairs(d, 0.8))


@_q("dedup_containment", "pipeline", dd.sql_containment(0.8))
def dedup_containment(spark, sf_dir):
    """Shingle-set CONTAINMENT pairs at >= 0.8 — the asymmetric near-dup
    measure that catches a short document pasted inside a long one
    (containment ~1.0 where Jaccard is tiny, so `dedup_ngram` never
    surfaces it). Exact via ONE-SIDED prefix filtering: the smaller
    set's rare-first prefix joins the full shingle index
    (functions/dedup.containment_pairs); the oracle is the naive
    equi-join normalized by the smaller set."""
    d = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(d, 0.8)


@_q("editdist_join", "pipeline", dd.sql_editdist("p_name", "part", 2))
def editdist_join(spark, sf_dir):
    """Edit-distance similarity join (Ed-Join, Xiao et al. 2008): all
    p_name pairs within Levenshtein distance 2 — the entity-resolution
    primitive for misspelled names / OCR noise. The pair search runs on
    the DISTINCT value relation (vocabulary-bounded: 64 names at every
    SF; a 100 TB column still collapses to its vocabulary under one
    map-side-combined groupBy), candidates come from a rare-first
    q-gram (q*k+1)-prefix self-join plus a broadcast wildcard band for
    strings whose gram set is <= q*k, and the exact JVM `levenshtein`
    verifies (functions/dedup.editdist_pairs). All-integer output; the
    oracle is the naive distinct-value band self-join."""
    p = _t(spark, sf_dir, "part")
    return dd.editdist_pairs(p, "p_name", 2)


@_q("dedup_spans", "pipeline", dd.sql_duplicated_spans())
def dedup_spans(spark, sf_dir):
    """Exact-substring duplicated SPANS (Lee et al. 2021, ExactSubstr):
    the maximal token ranges whose content occurs >= 2 times anywhere in
    the corpus — boilerplate headers, license blocks, templated
    paragraphs — reported per document so a pipeline can CUT the spans
    and keep the document, the remedy document-level dedup can't offer.
    The paper's suffix array becomes positional fixed-width shingles +
    a corpus-wide occurrence count on the shingle hash + a per-document
    gaps-and-islands interval merge; all-integer, bit-deterministic
    (functions/dedup.duplicated_spans)."""
    d = _t(spark, sf_dir, "documents")
    return dd.duplicated_spans(d)


@_q("dedup_spans_cut", "pipeline", dd.sql_cut_duplicated_spans())
def dedup_spans_cut(spark, sf_dir):
    """`dedup_spans` applied as a TRANSFORM: every document rebuilt with
    its duplicated token ranges removed (ExactSubstr's remedy — all
    occurrences cut; `paragraph_dedup` is the keep-first-owner
    alternative at paragraph granularity). The cut is map-side: per-doc
    span lists join back to the text and a higher-order filter drops
    covered positions in one pass per row — no corpus-size
    explode/regroup (functions/dedup.cut_duplicated_spans)."""
    d = _t(spark, sf_dir, "documents")
    return dd.cut_duplicated_spans(d)


def _neardup_probe_sql(probe_max: int = 50) -> str:
    """DuckDB twin of `dedup.minhash_probe_candidates` with probes taken
    from the corpus itself (doc_id < probe_max): same signature pipeline
    as `_minhash_sql`, band collisions against the probe set, MinHash
    Jaccard estimate = fraction of agreeing signature components (exact
    in binary: an integer count over 8.0)."""
    k = dd.MINHASH_K
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, sig{2 * b} AS h0, sig{2 * b + 1} AS h1 FROM sigs"
        for b in range(k // 2)
    )
    agree = " + ".join(
        f"(CASE WHEN s.sig{i} = t.sig{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
bands AS ({band_rows}),
cands AS (
  SELECT DISTINCT p.doc_id AS probe_id, b.doc_id
  FROM (SELECT * FROM bands WHERE doc_id < {probe_max}) p
  JOIN bands b
    ON p.band = b.band AND p.h0 = b.h0 AND p.h1 = b.h1
   AND p.doc_id != b.doc_id)
SELECT c.probe_id, c.doc_id, ({agree}) / 8.0 AS est_jaccard
FROM cands c
JOIN sigs s ON s.doc_id = c.doc_id
JOIN sigs t ON t.doc_id = c.probe_id
"""


def _minhash_cands_ctes() -> str:
    """CTE block `sh`/`shsize`/.../`cands(d1, d2)` — the LSH candidate
    relation in SQL, shared by every oracle that verifies ON candidates
    (plain `dedup_minhash_lsh`, the weighted-Jaccard verifier) so the
    banding structure stays derived from MINHASH_K/LSH_BANDS in exactly
    one place."""
    k = dd.MINHASH_K
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, sig{2 * b} AS h0, sig{2 * b + 1} AS h1 FROM sigs"
        for b in range(k // 2)
    )
    return f"""{dd.sql_shingles_ctes()},
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
bands AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id)"""


def _minhash_sql(threshold: float = 0.8) -> str:
    return f"""
WITH {_minhash_cands_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
verified AS (
  SELECT i.d1, i.d2, round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 4) AS jaccard
  FROM inter i
  JOIN shsize sa ON sa.doc_id = i.d1
  JOIN shsize sb ON sb.doc_id = i.d2)
SELECT c.d1, c.d2, v.jaccard
FROM cands c JOIN verified v ON c.d1 = v.d1 AND c.d2 = v.d2
WHERE v.jaccard >= {threshold}
"""


_CLUSTERS_SQL = f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM inter JOIN shsize sa ON sa.doc_id = d1 JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs),
reach AS (
  -- transitive closure: component = min reachable node id
  WITH RECURSIVE r(node, reach) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach)
  SELECT node, min(reach) AS component FROM r GROUP BY node)
SELECT node AS doc_id, component FROM reach
"""


@_q("dedup_clusters", "pipeline", _CLUSTERS_SQL)
def dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> dedup clusters via iterative min-label propagation
    (distributed connected components); the DuckDB oracle computes the same
    components with a recursive-CTE transitive closure."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, 0.8)
    return dd.connected_components(pairs)


_LEAKAGE_SPLIT_SQL = f"""
WITH comp AS MATERIALIZED ({_CLUSTERS_SQL}),
g AS (SELECT d.doc_id, CAST(coalesce(c.component, d.doc_id) AS BIGINT)
               AS group_key
      FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT doc_id, group_key,
       {cu.sql_hash_split("group_key", 0.1, 0.1)} AS split
FROM g
"""


@_q("leakage_safe_split", "pipeline", _LEAKAGE_SPLIT_SQL)
def leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split — the eval-integrity
    primitive a plain hash_split cannot give: if two near-duplicate
    documents land on opposite sides of the split, the eval set leaks
    into training (Lee et al. 2021 measure exactly this contamination).
    Composition: near-dup pairs (the exact PPJoin pipeline) -> connected
    components -> every document keyed by its CLUSTER id (singletons by
    their own id) -> the deterministic salted hash_split applied to the
    GROUP key, so an entire near-dup cluster moves as one unit and no
    pair can ever straddle the split. Stable under corpus growth for
    unclustered docs (same hash_split guarantee), and the whole
    assignment is engine-exact."""
    d = _t(spark, sf_dir, "documents")
    comp = dd.connected_components(dd.jaccard_pairs(d, 0.8))
    g = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("group_key"),
        )
    )
    return cu.hash_split(g, "group_key", val_frac=0.1, test_frac=0.1)


@_q("dedup_minhash_lsh", "pipeline", _minhash_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands x 2 rows) candidates, exact-Jaccard verified.
    The full shingle->minhash->band->bucket-join pipeline, oracle-checked."""
    d = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_dedup(d, 0.8)


@_q("dedup_simhash", "pipeline", dd.sql_simhash())
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash fingerprints (pure aggregation, map-side combine)."""
    d = _t(spark, sf_dir, "documents")
    return dd.simhash(d)


@_q(
    "dedup_simhash_pairs",
    "pipeline",
    f"""
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM ({dd.sql_simhash()}) a JOIN ({dd.sql_simhash()}) b
  ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS at Hamming <= 3 via pigeonhole block-banding
    (4 blocks of 8 bits; a pair within distance 3 must agree on a full
    block, so candidates are an equi-join on block bits, never an all-pairs
    XOR scan). The oracle IS the all-pairs scan — proving the banding
    lossless at every scale factor."""
    d = _td(spark, sf_dir)
    return dd.simhash_pairs(d, max_distance=3)


_SIMHASH_PAIRS_SQL = f"""
SELECT a.doc_id AS d1, b.doc_id AS d2
FROM ({dd.sql_simhash()}) a JOIN ({dd.sql_simhash()}) b
  ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@_q(
    "dedup_recall_eval",
    "pipeline",
    f"""
WITH exact AS MATERIALIZED (SELECT d1, d2 FROM ({_JACCARD_SQL})),
lsh AS (SELECT d1, d2 FROM ({_minhash_sql()})),
sim AS MATERIALIZED ({_SIMHASH_PAIRS_SQL}),
ex_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM exact),
sim_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sim)
SELECT 'lsh_recall' AS metric, hits, n AS possible,
       CASE WHEN n = 0 THEN NULL ELSE (hits * 1000000) // n END AS value_ppm
FROM (SELECT CAST(count(*) AS BIGINT) AS hits
      FROM lsh JOIN exact USING (d1, d2)), ex_n
UNION ALL
SELECT 'simhash_recall', hits, n,
       CASE WHEN n = 0 THEN NULL ELSE (hits * 1000000) // n END
FROM (SELECT CAST(count(*) AS BIGINT) AS hits
      FROM sim JOIN exact USING (d1, d2)), ex_n
UNION ALL
SELECT 'simhash_precision', hits, n,
       CASE WHEN n = 0 THEN NULL ELSE (hits * 1000000) // n END
FROM (SELECT CAST(count(*) AS BIGINT) AS hits
      FROM sim JOIN exact USING (d1, d2)), sim_n
""",
)
def dedup_recall_eval(spark, sf_dir):
    """The dedup-family EVALUATION HARNESS as a query (the sibling of
    `embed_recall_eval`): banded-LSH recall against the exact
    prefix-filtered Jaccard pairs (1.0 by the banding's design at this
    threshold — the harness PROVES it per corpus), plus SimHash
    pair recall and precision vs the same exact standard (SimHash
    trades precision for a cheaper scan — the number that sizes the
    verify stage at 100 TB). All overlaps are integer set
    intersections on (d1, d2); hash-matches the composed SQL twin."""
    d = _td(spark, sf_dir)
    # one shingle-assembly pass feeds the exact pipeline AND the
    # LSH signature+verify path (shingle_relation sharing); the SimHash
    # path is word-level by design, so it keeps its own scan
    with_sh = dd.shingle_relation(d)
    exact = (
        dd.jaccard_pairs(d, 0.8, shingles_rel=with_sh)
        .select("d1", "d2")
        .localCheckpoint()
    )
    lsh = dd.minhash_lsh_dedup(d, 0.8, shingles_rel=with_sh).select(
        "d1", "d2"
    )
    sim = dd.simhash_pairs(d, max_distance=3).select("d1", "d2")
    ex_n = exact.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sim_n = sim.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def _score(pairs, denom, name):
        return (
            pairs.join(exact, ["d1", "d2"])
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .crossJoin(F.broadcast(denom))
            .select(
                F.lit(name).alias("metric"),
                "hits",
                F.col("n").alias("possible"),
                # n = 0 (corpus with no near-dups): degrade to NULL on
                # BOTH engines — ANSI div throws, DuckDB // raises
                F.expr(
                    "CASE WHEN n = 0 THEN NULL"
                    " ELSE (hits * 1000000) div n END"
                ).alias("value_ppm"),
            )
        )

    return (
        _score(lsh, ex_n, "lsh_recall")
        .unionByName(_score(sim, ex_n, "simhash_recall"))
        .unionByName(_score(sim, sim_n, "simhash_precision"))
    )


_SURVIVORS_SQL = f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM inter JOIN shsize sa ON sa.doc_id = d1 JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(node, reach) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach)
  SELECT node, min(reach) AS component FROM r GROUP BY node)
SELECT node AS doc_id, component, (node = component) AS keep FROM reach
UNION ALL
SELECT doc_id, doc_id AS component, TRUE AS keep
FROM documents WHERE doc_id NOT IN (SELECT node FROM reach)
"""


@_q("dedup_survivors", "pipeline", _SURVIVORS_SQL)
def dedup_survivors(spark, sf_dir):
    """The full dedup DECISION: near-dup pairs -> clusters -> keep the
    min-id doc per cluster, pass every unpaired doc through — the exact
    relation a training-data pipeline filters on. One row per document:
    (doc_id, component, keep)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, 0.8)
    return dd.dedup_survivors(pairs, d)


_CLUSTER_STATS_SQL = f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM inter JOIN shsize sa ON sa.doc_id = d1 JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(node, reach) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach)
  SELECT node, min(reach) AS component FROM r GROUP BY node),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM reach GROUP BY 1
  UNION ALL
  SELECT doc_id, CAST(1 AS BIGINT) FROM documents
  WHERE doc_id NOT IN (SELECT node FROM reach))
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""


_CHAIN_DENSITY_PPM = (
    "CAST(floor(CAST(pairs_total AS DOUBLE) * 1000000"
    " / CAST(possible_total AS DOUBLE)) AS BIGINT)"
)

_CHAINING_AUDIT_SQL = f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2, round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
  FROM inter JOIN shsize sa ON sa.doc_id = d1 JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(node, reach) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach)
  SELECT node, min(reach) AS component FROM r GROUP BY node),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM reach GROUP BY 1),
percl AS (
  SELECT r.component,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(min(round(p.jaccard * 10000)) AS BIGINT) AS min_j_e4
  FROM pairs p JOIN reach r ON r.node = p.d1 GROUP BY 1),
band AS (
  SELECT s.cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(min(c.min_j_e4) AS BIGINT) AS worst_min_j_e4,
         CAST(sum(c.n_pairs) AS BIGINT) AS pairs_total,
         CAST(sum((s.cluster_size * (s.cluster_size - 1)) // 2) AS BIGINT)
           AS possible_total
  FROM sizes s JOIN percl c USING (component) GROUP BY 1)
SELECT cluster_size, n_clusters, worst_min_j_e4,
       {_CHAIN_DENSITY_PPM} AS density_ppm
FROM band
"""


@_q("dedup_chaining_audit", "pipeline", _CHAINING_AUDIT_SQL)
def dedup_chaining_audit(spark, sf_dir):
    """Chaining audit of the near-dup clusters — the known failure mode
    of connected components over pair thresholds: A~B~C can cluster
    with A and C nowhere near each other, and a survivor-per-cluster
    dedup then deletes documents that were never duplicates of the
    kept one. Per cluster-size band: the worst minimum intra-cluster
    pair Jaccard (a chain's weakest link sits AT the threshold) and the
    edge density vs the complete graph (a chain of size s has s-1 of
    the s(s-1)/2 possible pairs -> low ppm; a true mirror farm sits at
    1e6). Low density + threshold-hugging worst link = clusters built
    by chaining -> raise the threshold or verify before deleting.
    Scale shape: rides the SAME pair relation and CC loop the cluster
    entries share; everything after is |clusters|- then |bands|-row
    rollups."""
    d = _t(spark, sf_dir, "documents")
    # materialize the pair pipeline ONCE: both the CC loop and the
    # jaccard join-back consume it (the branching-consumers pattern)
    pairs = dd.jaccard_pairs(d, 0.8).localCheckpoint()
    comp = dd.connected_components(pairs)
    p2 = pairs.join(
        comp.withColumnRenamed("doc_id", "d1"), "d1"
    ).select(
        "component",
        F.round(F.col("jaccard") * 10000).cast("long").alias("j_e4"),
    )
    percl = p2.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("j_e4").cast("long").alias("min_j_e4"),
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    band = (
        sizes.join(percl, "component")
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.min("min_j_e4").cast("long").alias("worst_min_j_e4"),
            F.sum("n_pairs").cast("long").alias("pairs_total"),
            F.sum(
                F.expr("(cluster_size * (cluster_size - 1)) div 2")
            )
            .cast("long")
            .alias("possible_total"),
        )
    )
    return band.select(
        "cluster_size",
        "n_clusters",
        "worst_min_j_e4",
        F.expr(_CHAIN_DENSITY_PPM).alias("density_ppm"),
    )


@_q("dedup_cluster_stats", "pipeline", _CLUSTER_STATS_SQL)
def dedup_cluster_stats(spark, sf_dir):
    """Near-dup CLUSTER-SIZE distribution — the tuning observability
    read before committing to a dedup threshold: how many size-2 twins
    vs giant mirror farms, and how many docs each band removes
    (n_docs - n_clusters per band = deletions). Unpaired docs count as
    size-1 clusters so the histogram tiles the corpus. Everything after
    the shared CC loop runs on |clusters| then |size-bands| rows."""
    d = _t(spark, sf_dir, "documents")
    comp = dd.connected_components(dd.jaccard_pairs(d, 0.8))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    singles = (
        d.select("doc_id")
        .join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(
            F.col("doc_id").alias("component"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return (
        sizes.unionByName(singles)
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
    )


_SURVIVORS_QUALITY_SQL = f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT d1, d2
  FROM inter JOIN shsize sa ON sa.doc_id = d1 JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION SELECT d2, d1 FROM pairs),
reach AS (
  WITH RECURSIVE r(node, reach) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.reach)
  SELECT node, min(reach) AS component FROM r GROUP BY node),
ranked AS (
  SELECT m.node AS doc_id, m.component,
         row_number() OVER (PARTITION BY m.component
                            ORDER BY d.n_chars DESC, m.node) AS rn
  FROM reach m JOIN documents d ON d.doc_id = m.node)
SELECT doc_id, component, (rn = 1) AS keep FROM ranked
UNION ALL
SELECT doc_id, doc_id AS component, TRUE AS keep
FROM documents WHERE doc_id NOT IN (SELECT node FROM reach)
"""


@_q("dedup_survivors_quality", "pipeline", _SURVIVORS_QUALITY_SQL)
def dedup_survivors_quality(spark, sf_dir):
    """Quality-aware survivorship: same clusters as `dedup_survivors`,
    but each cluster keeps its HIGHEST-quality member (here the longest
    by n_chars, ties to the smaller id) — the realistic mirror-site
    policy: of five copies of an article you keep the most complete
    one, not the one with the smallest key. The winner rank windows
    only the clustered relation (bounded by the near-dup pair space);
    unpaired docs pass through via one anti-join
    (functions/dedup.dedup_survivors_quality)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, 0.8)
    return dd.dedup_survivors_quality(pairs, d)


_NOVELTY_TREND_PPM = (
    "CAST(floor(CAST(novel_sum AS DOUBLE) * 1000000"
    " / CAST(sh_sum AS DOUBLE)) AS BIGINT)"
)
_COPY_DOCS_PPM = (
    "CAST(floor(CAST(n_copies AS DOUBLE) * 1000000"
    " / CAST(n_docs AS DOUBLE)) AS BIGINT)"
)

_NOVELTY_TREND_SQL = f"""
WITH {dd.sql_shingles_ctes()},
owner AS (SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY 1),
perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM sh JOIN owner USING (shingle) GROUP BY doc_id),
nd AS (SELECT max(doc_id) + 1 AS n FROM documents),
b AS (SELECT least((p.doc_id * 10) // d.n, 9) AS decile,
             p.n_shingles, p.n_novel
      FROM perdoc p, nd d),
per AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_shingles) AS BIGINT) AS sh_sum,
         CAST(sum(n_novel) AS BIGINT) AS novel_sum,
         CAST(sum(CASE WHEN n_novel = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_copies
  FROM b GROUP BY 1)
SELECT decile, n_docs,
       {_NOVELTY_TREND_PPM} AS novel_ppm,
       {_COPY_DOCS_PPM} AS copy_docs_ppm
FROM per
"""


_ABL_KEEP_PPM = (
    "CAST(floor(CAST(n_keep AS DOUBLE) * 1000000"
    " / CAST(n AS DOUBLE)) AS BIGINT)"
)


def _ablation_row_sql(rule: str, short: str) -> str:
    return f"""
SELECT '{rule}' AS rule,
       fail_{short} AS n_fail,
       sole_{short} AS n_sole_fail,
       {_ABL_KEEP_PPM} AS keep_ppm,
       CAST(floor(CAST(n_keep + sole_{short} AS DOUBLE) * 1000000
                  / CAST(n AS DOUBLE)) AS BIGINT) AS keep_without_ppm
FROM a"""


def _ablation_sql() -> str:
    r = tx.sql_quality_rules("text")
    v = (
        f"SELECT CASE WHEN {r['ok_len']} THEN 1 ELSE 0 END AS l,"
        f" CASE WHEN {r['ok_mean_len']} THEN 1 ELSE 0 END AS m,"
        f" CASE WHEN {r['ok_stopwords']} THEN 1 ELSE 0 END AS s"
        " FROM documents"
    )
    return f"""
WITH v AS ({v}),
a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l * m * s) AS BIGINT) AS n_keep,
             CAST(sum(1 - l) AS BIGINT) AS fail_len,
             CAST(sum((1 - l) * m * s) AS BIGINT) AS sole_len,
             CAST(sum(1 - m) AS BIGINT) AS fail_mean,
             CAST(sum(l * (1 - m) * s) AS BIGINT) AS sole_mean,
             CAST(sum(1 - s) AS BIGINT) AS fail_stop,
             CAST(sum(l * m * (1 - s)) AS BIGINT) AS sole_stop
      FROM v)
{_ablation_row_sql('ok_len', 'len')}
UNION ALL{_ablation_row_sql('ok_mean_len', 'mean')}
UNION ALL{_ablation_row_sql('ok_stopwords', 'stop')}
"""


@_q("quality_rules_ablation", "pipeline", _ablation_sql())
def quality_rules_ablation(spark, sf_dir):
    """Per-rule attribution for the Gopher quality filter — the table a
    filter owner reads before tightening or dropping a rule: for each
    of the three rules, how many docs fail it at all, how many docs it
    ALONE removes (every other rule passes — the rule's marginal bite),
    and the keep rate the corpus would have WITHOUT it. A rule whose
    n_sole_fail is ~0 is redundant (its rejections are all caught
    elsewhere); one whose keep_without_ppm jumps is doing real work and
    deserves a calibration pass (`quality_calibration`) before touching
    it. Scale shape: the rule verdicts are the same map-side JVM
    expressions the filter itself runs, folded into ONE aggregate row;
    the three output rows are projections of that 1-row relation."""
    d = _td(spark, sf_dir)
    r = tx.quality_rules(F.col("text"))
    v = d.select(
        F.when(r["ok_len"], 1).otherwise(0).alias("l"),
        F.when(r["ok_mean_len"], 1).otherwise(0).alias("m"),
        F.when(r["ok_stopwords"], 1).otherwise(0).alias("s"),
    )
    a = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("l * m * s")).cast("long").alias("n_keep"),
        F.sum(F.expr("1 - l")).cast("long").alias("fail_len"),
        F.sum(F.expr("(1 - l) * m * s")).cast("long").alias("sole_len"),
        F.sum(F.expr("1 - m")).cast("long").alias("fail_mean"),
        F.sum(F.expr("l * (1 - m) * s")).cast("long").alias("sole_mean"),
        F.sum(F.expr("1 - s")).cast("long").alias("fail_stop"),
        F.sum(F.expr("l * m * (1 - s)")).cast("long").alias("sole_stop"),
    ).localCheckpoint()  # 1 row; three projections below consume it

    def row(rule, short):
        return a.select(
            F.lit(rule).alias("rule"),
            F.col(f"fail_{short}").alias("n_fail"),
            F.col(f"sole_{short}").alias("n_sole_fail"),
            F.expr(_ABL_KEEP_PPM).alias("keep_ppm"),
            F.expr(
                f"CAST(floor(CAST(n_keep + sole_{short} AS DOUBLE)"
                " * 1000000 / CAST(n AS DOUBLE)) AS BIGINT)"
            ).alias("keep_without_ppm"),
        )

    return (
        row("ok_len", "len")
        .unionByName(row("ok_mean_len", "mean"))
        .unionByName(row("ok_stopwords", "stop"))
    )


_DRIFT_KEEP_PPM = (
    "CAST(floor(CAST(n_keep AS DOUBLE) * 1000000"
    " / CAST(n_docs AS DOUBLE)) AS BIGINT)"
)

_DRIFT_CURVE_SQL = f"""
WITH nd AS (SELECT max(doc_id) + 1 AS n FROM documents),
q AS (SELECT least((d.doc_id * 10) // x.n, 9) AS decile,
             CASE WHEN {tx.sql_quality_rules('d.text')['keep']}
                  THEN 1 ELSE 0 END AS keep,
             len(string_split(d.text, ' ')) AS n_tok,
             d.n_chars
      FROM documents d, nd x),
per AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(keep) AS BIGINT) AS n_keep,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM q GROUP BY 1)
SELECT decile, n_docs,
       {_DRIFT_KEEP_PPM} AS keep_ppm,
       CAST(sum_tok // n_docs AS BIGINT) AS mean_tokens,
       CAST(sum_chars // n_docs AS BIGINT) AS mean_chars
FROM per
"""


@_q("corpus_drift_curve", "pipeline", _DRIFT_CURVE_SQL)
def corpus_drift_curve(spark, sf_dir):
    """Is the crawl getting WORSE? Quality and length per
    ingestion-order decile — the temporal axis the per-source and
    global quality tables flatten away: a keep-rate that sags in the
    late deciles means the newest data is dirtier (seed exhaustion,
    spam catching up with the crawler), caught from the rollup instead
    of after a training regression. Reads beside `novelty_trend` (new
    content) and `vocab_growth` (new terms) as the third crawl-health
    curve. Scale shape: one map-side projection (rule verdicts are
    pure JVM expressions) into a 10-row rollup; the corpus-size scalar
    rides a 1-row broadcast."""
    d = _td(spark, sf_dir)
    nd = d.agg((F.max("doc_id") + 1).cast("long").alias("n"))
    per = (
        d.crossJoin(F.broadcast(nd))
        .select(
            F.least(
                F.expr("(doc_id * 10) div n"), F.lit(9).cast("long")
            ).alias("decile"),
            F.when(tx.quality_rules(F.col("text"))["keep"], 1)
            .otherwise(0)
            .alias("keep"),
            tx.token_count(F.col("text")).cast("long").alias("n_tok"),
            "n_chars",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.sum("n_tok").cast("long").alias("sum_tok"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return per.select(
        "decile",
        "n_docs",
        F.expr(_DRIFT_KEEP_PPM).alias("keep_ppm"),
        F.expr("CAST(sum_tok div n_docs AS BIGINT)").alias("mean_tokens"),
        F.expr("CAST(sum_chars div n_docs AS BIGINT)").alias("mean_chars"),
    )


@_q("novelty_trend", "pipeline", _NOVELTY_TREND_SQL)
def novelty_trend(spark, sf_dir):
    """Is the crawl saturating? Per ingestion-order decile (the
    vocab_growth axis), the shingle-level novelty share and the
    fraction of docs contributing NOTHING new (pure copies of earlier
    content) — `vocab_growth` tracks new TERMS, this tracks new
    CONTENT, and the two diverge exactly when a source starts
    recombining old text. A falling novel_ppm curve tells the crawl
    owner more breadth beats more depth BEFORE the next 10 TB lands.
    Scale shape: the doc_novelty fold (shingle explode, min-owner
    groupBy, exchange-reused join-back) into a 10-row rollup; the
    corpus-size scalar rides a 1-row broadcast."""
    d = _td(spark, sf_dir)
    perdoc = dd.doc_novelty(d)
    nd = d.agg((F.max("doc_id") + 1).cast("long").alias("n"))
    per = (
        perdoc.crossJoin(F.broadcast(nd))
        .select(
            F.least(
                F.expr("(doc_id * 10) div n"), F.lit(9).cast("long")
            ).alias("decile"),
            "n_shingles",
            "n_novel",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_shingles").cast("long").alias("sh_sum"),
            F.sum("n_novel").cast("long").alias("novel_sum"),
            F.sum(F.when(F.col("n_novel") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_copies"),
        )
    )
    return per.select(
        "decile",
        "n_docs",
        F.expr(_NOVELTY_TREND_PPM).alias("novel_ppm"),
        F.expr(_COPY_DOCS_PPM).alias("copy_docs_ppm"),
    )


@_q("doc_novelty", "pipeline", dd.sql_doc_novelty())
def doc_novelty(spark, sf_dir):
    """Per-document NOVELTY share: the ppm of a doc's distinct shingles
    whose corpus-wide first occurrence (min doc id) is this doc — the
    originality signal next to the dedup verdicts: a doc can pass every
    near-dup rule yet contribute almost nothing new. One shingle
    explode, one combine-friendly min groupBy, one equi-join back on
    the same key (exchange reuse), one per-doc rollup — cost tracks the
    shingle relation, never a pair space
    (functions/dedup.doc_novelty)."""
    d = _td(spark, sf_dir)
    return dd.doc_novelty(d)


@_q("doc_novelty_materialized", "pipeline", dd.sql_doc_novelty())
def doc_novelty_materialized(spark, sf_dir):
    """`doc_novelty` as a STANDING SERVICE: the shingle-owner table
    (shingle -> min doc id) is maintained by transform-aggregate IVM
    from the store's commit log — min is a monotone algebraic fold, so
    under monotone append the owner NEVER changes once set and each
    refresh costs O(delta x shingle fan-out), never a corpus re-scan.
    The novelty read then joins corpus shingles against the standing
    owners: the expensive corpus-wide min groupBy (the wide aggregation
    that dominates the batch form) is amortized into the deltas and
    gone from the query path. Hash-identical to `doc_novelty` (same
    oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming.materialize import (
        materialize_aggregate,
        read_aggregate,
    )

    store = _mat_store_docs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "owners"), os.path.join(qroot, "ck")

    def pre(rows):
        return rows.select(
            F.col("primary_key").cast("long").alias("doc_id"),
            F.explode(dd.word_shingles(F.col("value"))).alias("sh"),
        ).select("doc_id", F.xxhash64("sh").alias("shingle"))

    q = materialize_aggregate(
        spark,
        str(store.root),
        dest,
        ["shingle"],
        [("owner", "min(doc_id)", "min")],
        ck,
        trigger_seconds=0.5,
        pre=pre,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    owners = read_aggregate(spark, dest)
    d = _td(spark, sf_dir)
    sh = dd.exploded_shingle_hashes(d)
    out = (
        sh.join(owners, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm", F.expr("(n_novel * 1000000) div n_shingles")
        )
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q("hll_rollup", "pipeline", tx.sql_hll_rollup())
def hll_rollup(spark, sf_dir):
    """Hierarchical distinct-term counts via SKETCH MERGE: per-source
    HLL register relations, with the corpus-level `__all__` estimate
    derived by element-wise max over the per-source sketches — never a
    second corpus scan. The property that matters at 100 TB: sketch
    once at the finest level, roll up to ANY coarser level (hour ->
    day, shard -> cluster) as a bounded-size merge; the harmonic sum
    stays exact BIGINT so the merge itself is hash-checked
    (functions/text.hll_rollup)."""
    d = _td(spark, sf_dir)
    return tx.hll_rollup(d)


_CALIBRATION_SQL = f"""
WITH lm AS ({tx.SQL_BIGRAM_LM}),
rules AS (SELECT doc_id, {tx.sql_quality_rules('text')['keep']} AS keep
          FROM documents),
j AS (SELECT CAST(floor(avg_logp * 8) AS BIGINT) AS lp_band, keep
      FROM lm JOIN rules USING (doc_id))
SELECT lp_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       (CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         // CAST(count(*) AS BIGINT) AS keep_ppm
FROM j GROUP BY lp_band
"""


@_q("quality_calibration", "pipeline", _CALIBRATION_SQL)
def quality_calibration(spark, sf_dir):
    """Reliability curve of the cheap fluency score against the
    expensive rule decision: per eighth-integer log-likelihood band of
    the in-corpus bigram LM, how often do the Gopher rules keep the doc —
    the table that decides whether a score threshold can REPLACE the
    rule cascade at scale (CCNet's exact argument for LM-perplexity
    filtering). Inherits bigram_lm_scores' model join; the rule side is
    map-side; the rollup is |bands| rows."""
    d = _td(spark, sf_dir)
    lm = tx.bigram_lm_scores(d)
    rules = d.select(
        "doc_id", tx.quality_rules(F.col("text"))["keep"].alias("keep")
    )
    return (
        lm.join(rules, "doc_id")
        .select(
            F.floor(F.col("avg_logp") * 8).cast("long").alias("lp_band"),
            "keep",
        )
        .groupBy("lp_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
        )
        .withColumn("keep_ppm", F.expr("(n_keep * 1000000) div n_docs"))
    )


@_q(
    "stratified_sample",
    "pipeline",
    f"""
SELECT doc_id, lang FROM documents
WHERE {cu.sql_bucket('doc_id', 'sample')}
      < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3500
                  WHEN 'fr' THEN 2500 WHEN 'es' THEN 2500
                  WHEN 'zh' THEN 1000 ELSE 0 END
""",
)
def stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling (training-mix
    rebalancing): a salted content-key hash decides membership, so the
    sample is identical on every run/cluster size and nested across
    fraction changes — a pure map-side filter, no shuffle, no rand()."""
    d = _t(spark, sf_dir, "documents")
    return cu.stratified_sample(
        d,
        "lang",
        {"en": 0.5, "de": 0.35, "fr": 0.25, "es": 0.25, "zh": 0.1},
        key_col="doc_id",
    ).select("doc_id", "lang")


@_q("pps_sample", "pipeline", cu.sql_pps_sample(100))
def pps_sample(spark, sf_dir):
    """Poisson PPS sampling (inclusion probability proportional to token
    count, expected ~100 docs' token budget): the variance-reduced draw
    for token-budgeted subsampling — uniform doc sampling over-represents
    short documents per token. Map-side with NO global cumulative-weight
    sort (the classic systematic-PPS bottleneck): threshold =
    floor(min(1, n*w/W) * 2^60) vs a salted 60-bit hash, W_total on a
    1-row broadcast; deterministic, nested across n_target changes."""
    return cu.pps_sample(_td(spark, sf_dir), 100)


@_q("decontaminate", "pipeline", _DECONTAM_SQL)
def decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any 8-word
    shingle with the benchmark pool (here: every 10th doc stands in for
    the eval set — wide enough that real collisions exist at every SF, so
    the check can't pass vacuously). The pool deduplicates then BROADCASTS
    — the corpus side streams through the join unshuffled, the shape that
    survives a 100 TB corpus against a fixed eval set."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return cu.decontaminate(spread(train), bench, n=8)


@_q("decontaminate_fuzzy", "pipeline", cu.sql_decontaminate_fuzzy())
def decontaminate_fuzzy(spark, sf_dir):
    """NEAR-duplicate benchmark decontamination — the fuzzy sibling of
    `decontaminate`: exact 8-gram collision misses a paraphrased or
    truncated eval item (the leakage mode the published GPT-3/Llama
    cleanups filter with fuzzy matching); MinHash signature agreement
    >= 4 of 8 slots (~ Jaccard >= 0.5) catches it. Same eval split as
    the exact entry (every 10th doc) so collisions exist at every SF.
    Both sides reduce to |docs| x 8 integer signatures; the eval pool's
    bands AND signatures broadcast, so the corpus streams through two
    broadcast joins unshuffled — the 100 TB shape."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return cu.decontaminate_fuzzy(spread(train), bench)


_HDR_PS = [0.5, 0.9, 0.99]


@_q("hdr_quantiles", "pipeline", tx.sql_hdr_quantiles(_HDR_PS))
def hdr_quantiles(spark, sf_dir):
    """Base-2 exponential-histogram quantiles of the doc token-length
    distribution (HdrHistogram / OpenTelemetry bucket scheme, DDSketch's
    bounded-RELATIVE-error guarantee) beside the exact rank statistics —
    the quantile member of the sketch family (CMS: frequencies, HLL:
    distinct). The bucket mapping is a pure integer function of the
    value (octave = length(bin(v)), next 5 mantissa bits), so unlike
    GK/KLL/t-digest it is insertion-order independent: partition
    partials ARE sketches, the groupBy sum is the merge, the shuffle
    carries ~320 buckets per partition at any corpus size, and the whole
    operator — estimates included — hash-matches the SQL twin."""
    return tx.hdr_quantiles_with_exact(_td(spark, sf_dir), _HDR_PS)


@_q("embed_pca_project", "pipeline", sim.sql_pca_project())
def embed_pca_project(spark, sf_dir):
    """PCA top-component projection — completes the pipeline the exact
    covariance relation exists for: the dominant eigendirection by
    FIXED-POINT power iteration (16 integer matvec+rescale rounds over
    the dim^2 covariance ints — bounded driver state, like the kmeans
    centroids), then a map-only centered integer projection per row
    (pc1 = n*(q.v) - sum(q.v); the subtraction IS mean-centering scaled
    by n, no floats). No numpy/libm anywhere, so unlike an eigh PCA the
    direction AND the projections hash-match the unrolled SQL twin
    bit-for-bit; direction quality (Rayleigh ratio >= 0.95 of the top
    eigenvalue on this near-degenerate spectrum) is gated in
    test_similarity."""
    e = _t(spark, sf_dir, "embeddings")
    comp = sim.pca_power_component(e)
    return sim.pca_project(e, comp)


@_q("embed_kcenter_sample", "pipeline", sim.sql_kcenter_sample())
def embed_kcenter_sample(spark, sf_dir):
    """Greedy k-center (farthest-point) DIVERSITY sampling (Gonzalez
    1985; Sener & Savarese 2018 core-set selection): pick the 8 vectors
    that maximize coverage of the embedding space — the curation pull
    OPPOSITE to semantic dedup (that removes the redundant middle; this
    keeps the extremes a random or cluster-balanced draw under-weights).
    Exact fixed-point distances; each greedy round is one map-only pass
    (plan-literal centers, zip_with folds, TakeOrdered(1)) over the
    once-checkpointed quantized corpus — no shuffle, no join; at corpus
    scale the paper's own deployment runs it on an already-reduced
    relation (functions/similarity.kcenter_sample)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.kcenter_sample(e, k=8)


@_q(
    "embed_kcenter_refined",
    "pipeline",
    sim.sql_kcenter_sample_refined(k=8, m=64),
)
def embed_kcenter_refined(spark, sf_dir):
    """Sample-then-refine k-center — the AT-SCALE form of
    `embed_kcenter_sample` (VERDICT r10 task 6): the exact greedy's k
    corpus passes are inherent to farthest-point, so at 100 TB this
    caps corpus passes at TWO regardless of k — one distributed
    TakeOrdered draws the m=64 smallest portable-hash candidates (no
    rand(); growth-stable and reproduced exactly in the SQL twin), the
    Gonzalez rounds run on the m-row relation only, and one final
    map-only corpus pass reports the TRUE full-corpus coverage radius
    so the sampling's quality cost is measured, never hidden — the
    same first-pass/verifier split as the dedup family's
    LSH-first-exact-verify (functions/similarity.
    kcenter_sample_refined)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.kcenter_sample_refined(e, k=8, m=64)


@_q("source_divergence", "pipeline", tx.sql_source_divergence())
def source_divergence(spark, sf_dir):
    """Outlier-source vocabulary audit: per source, the top-5 terms by
    Pearson chi-square contribution against the corpus unigram
    distribution — a spam domain or boilerplate-heavy feed surfaces as
    a huge contribution on a handful of terms long before any quality
    rule fires. Counts stay exact integers; the two divisions are a
    fixed exact-int->double chain spelled identically in the SQL twin
    (doubles hash-match). One (source, term) groupBy with map-side
    combine; totals re-aggregate that relation and join back broadcast;
    the per-source top-5 is a rank<=k window = partial WindowGroupLimit
    (functions/text.source_divergence)."""
    d = _td(spark, sf_dir)
    return tx.source_divergence(d)


@_q(
    "k_anonymity",
    "pipeline",
    """
WITH groups AS (
  SELECT CASE WHEN GROUPING(c_nationkey) = 0 AND GROUPING(c_mktsegment) = 0
              THEN 'nation_segment'
              WHEN GROUPING(c_nationkey) = 0 THEN 'nation'
              ELSE 'all' END AS level,
         CAST(count(*) AS BIGINT) AS n
  FROM customer
  GROUP BY ROLLUP (c_nationkey, c_mktsegment))
SELECT level,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(n) AS BIGINT) AS min_group,
       CAST(coalesce(sum(CASE WHEN n < 6 THEN n END), 0) AS BIGINT)
         AS rows_at_risk,
       round(coalesce(sum(CASE WHEN n < 6 THEN n END), 0) * 1.0 / sum(n), 4)
         AS pct_at_risk
FROM groups GROUP BY level
""",
)
def k_anonymity(spark, sf_dir):
    """k-anonymity audit across a GENERALIZATION LADDER (Sweeney 2002):
    before releasing training data keyed on quasi-identifiers, measure
    re-identification risk — any (nationality, market-segment) group
    smaller than k is linkable. ONE rollup scan produces group sizes at
    all three generalization levels (nation x segment, nation, fully
    suppressed); a second aggregate over that |groups|-row relation
    reports, per level, the group count, the smallest group, and the
    row mass in sub-k groups — the report that picks the coarsest level
    meeting the k bar. Scale: the rollup is one expand+groupBy with
    map-side combine; everything after runs on the |QI-combos| relation
    (vocabulary-bounded, never row-bounded). Complements `pii_scrub`
    (content redaction) with structural linkage risk."""
    c = _t(spark, sf_dir, "customer")
    k = 6
    groups = (
        c.rollup("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("c_nationkey").alias("g_nat"),
            F.grouping("c_mktsegment").alias("g_seg"),
        )
        .select(
            F.when(
                (F.col("g_nat") == 0) & (F.col("g_seg") == 0),
                F.lit("nation_segment"),
            )
            .when(F.col("g_nat") == 0, F.lit("nation"))
            .otherwise(F.lit("all"))
            .alias("level"),
            "n",
        )
    )
    risk = F.sum(F.when(F.col("n") < k, F.col("n")))
    return groups.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("n").alias("min_group"),
        F.coalesce(risk, F.lit(0)).cast("long").alias("rows_at_risk"),
        F.round(
            F.coalesce(risk, F.lit(0)) / F.sum("n"), 4
        ).alias("pct_at_risk"),
    )


@_q("collocations_materialized", "pipeline", tx.sql_collocations())
def collocations_materialized(spark, sf_dir):
    """`collocations` as a STANDING SERVICE: the bigram and unigram
    count tables maintained as TRANSFORM-AGGREGATE IVM from the store's
    commit log (materialize.py's new `pre` seam — each delta's documents
    explode row-wise into bigrams/tokens before the algebraic count
    fold, so a refresh costs O(delta x fan-out) + O(Zipf vocabulary),
    never a corpus re-scan; exactly-once anchored to commit versions
    like every aggregate it maintains). The integer-lift finisher reads
    only the standing counts; hash-identical to the batch twin, same
    oracle. Count folds assume the append-only corpus shape (an update
    arriving as a new key version would need the live-version fold of
    the retrieval transforms instead — documented, not silent)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming.materialize import (
        materialize_aggregate,
        read_aggregate,
    )

    store = _mat_store_docs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    bg_dest = os.path.join(qroot, "bgc")
    uni_dest = os.path.join(qroot, "uni")

    def pre_bg(rows):
        return rows.select(
            F.explode(tx.bigram_pairs(F.col("value"))).alias("p")
        ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    def pre_uni(rows):
        return rows.select(
            F.explode(tx.tokens(F.lower(F.col("value")))).alias("tok")
        )

    jobs = (
        (bg_dest, pre_bg, ["w1", "w2"], "c_ab"),
        (uni_dest, pre_uni, ["tok"], "c"),
    )
    # one maintainer per DEST (separate dests + checkpoints over the
    # same commit log), started together so the lifecycles overlap
    running = [
        materialize_aggregate(
            spark,
            str(store.root),
            dest,
            cols,
            [(cname, "count(1)", "sum")],
            os.path.join(qroot, "ck_" + os.path.basename(dest)),
            trigger_seconds=0.5,
            pre=pre,
        )
        for dest, pre, cols, cname in jobs
    ]
    try:
        for q in running:
            q.processAllAvailable()
    finally:
        for q in running:
            q.stop()
    out = tx.collocations_from_counts(
        read_aggregate(spark, bg_dest), read_aggregate(spark, uni_dest)
    ).localCheckpoint()
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "benford_audit",
    "pipeline",
    f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE o_totalprice > 0),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM digits),
obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
        FROM digits GROUP BY 1),
expected(digit, benford_ppm) AS (VALUES {", ".join(f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_PPM))})
SELECT e.digit, coalesce(o.cnt, 0) AS cnt,
       (coalesce(o.cnt, 0) * 1000000) // n AS share_ppm,
       e.benford_ppm,
       abs((coalesce(o.cnt, 0) * 1000000) // n - e.benford_ppm)
         AS dev_ppm
FROM expected e LEFT JOIN obs o USING (digit), n
""",
)
def benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (synthetic or tampered financial data
    rarely matches log10(1+1/d)): observed first-significant-digit
    shares vs the Benford expectation in integer ppm, with the expected
    distribution inlined as plan literals (no libm log at runtime —
    first digits come from the integer-cents string, which both engines
    format identically). One map-side scan + a 9-row rollup; deviations
    are the audit signal, not a hard gate."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    n = digits.agg(F.count(F.lit(1)).alias("n"))
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    expected = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_PPM)],
        "digit long, benford_ppm long",
    )
    return (
        expected.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            F.expr("(coalesce(cnt, 0) * 1000000) div n").alias("share_ppm"),
            "benford_ppm",
            F.abs(
                F.expr("(coalesce(cnt, 0) * 1000000) div n")
                - F.col("benford_ppm")
            ).alias("dev_ppm"),
        )
    )


def _norm_audit_sql() -> str:
    from fluxdb_spark.functions.text import _hdr_idx_sql, _hdr_lower_sql

    return f"""
WITH qz AS ({sim.sql_quantize_embeddings()}),
mags AS MATERIALIZED (SELECT scale_e9 FROM qz),
sk AS MATERIALIZED (
  SELECT {_hdr_idx_sql('scale_e9')} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM mags GROUP BY 1),
cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk)
SELECT 'n_vectors' AS metric, n AS value FROM tot
UNION ALL
SELECT 'zero_vectors',
       CAST(count(*) FILTER (WHERE scale_e9 = 0) AS BIGINT) FROM mags
UNION ALL
SELECT 'min_nonzero_e9',
       CAST(min(CASE WHEN scale_e9 > 0 THEN scale_e9 END) AS BIGINT)
FROM mags
UNION ALL
SELECT 'max_e9', CAST(max(scale_e9) AS BIGINT) FROM mags
UNION ALL
SELECT 'p50_e9_lb',
       (SELECT {_hdr_lower_sql('min(bucket)')}
        FROM cum, tot WHERE cum >= ceil(0.5 * n))
UNION ALL
SELECT 'p99_e9_lb',
       (SELECT {_hdr_lower_sql('min(bucket)')}
        FROM cum, tot WHERE cum >= ceil(0.99 * n))
"""


@_q("embed_norm_audit", "pipeline", _norm_audit_sql())
def embed_norm_audit(spark, sf_dir):
    """Embedding-health audit — the screen for COLLAPSED embeddings
    (a broken encoder emits near-zero or wildly-scaled vectors long
    before any downstream metric notices): the distribution of each
    vector's exact integer magnitude (the int8 quantizer's scale_e9 =
    floor(absmax/127 * 1e9), already bit-portable) as zero-vector
    count, nonzero min, max, and HDR-sketch p50/p99 lower bounds —
    every statistic either exact or rank-based on the mergeable bucket
    sketch, so the whole audit is map-side + a ~64-row rollup at any
    corpus size. (metric, value) BIGINT rows."""
    from fluxdb_spark.functions.text import _hdr_idx_expr, hdr_quantiles

    e = _t(spark, sf_dir, "embeddings")
    mags = sim.quantize_embeddings(e).select("scale_e9").localCheckpoint()
    buckets = (
        mags.select(F.expr(_hdr_idx_expr("scale_e9")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    q = hdr_quantiles(buckets, [0.5, 0.99]).select(
        F.when(F.col("p") == 0.5, F.lit("p50_e9_lb"))
        .otherwise(F.lit("p99_e9_lb"))
        .alias("metric"),
        F.col("est").cast("long").alias("value"),
    )
    summary = mags.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("scale_e9") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zero_vectors"),
        F.min(F.when(F.col("scale_e9") > 0, F.col("scale_e9")))
        .cast("long")
        .alias("min_nonzero_e9"),
        F.max("scale_e9").cast("long").alias("max_e9"),
    ).selectExpr(
        "stack(4, 'n_vectors', n_vectors, 'zero_vectors', zero_vectors, "
        "'min_nonzero_e9', min_nonzero_e9, 'max_e9', max_e9) "
        "as (metric, value)"
    )
    return summary.unionByName(q)


@_q(
    "embed_recall_eval",
    "pipeline",
    f"""
WITH ref AS (SELECT query_id, match_id
             FROM ({sim.sql_quantized_topk(10, 5)})),
pq AS (SELECT query_id, match_id FROM ({sim.sql_pq_topk(m=4, ks=8, iters=2, k=10)})),
bin AS (SELECT query_id, match_id FROM ({sim.sql_binary_topk(10, 5, 40)})),
possible AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ref)
SELECT 'pq' AS method,
       CAST(count(*) AS BIGINT) AS hits, n AS possible,
       (CAST(count(*) AS BIGINT) * 1000000) // n AS recall_ppm
FROM pq JOIN ref USING (query_id, match_id), possible GROUP BY n
UNION ALL
SELECT 'binary',
       CAST(count(*) AS BIGINT), n,
       (CAST(count(*) AS BIGINT) * 1000000) // n
FROM bin JOIN ref USING (query_id, match_id), possible GROUP BY n
""",
)
def embed_recall_eval(spark, sf_dir):
    """The ANN EVALUATION HARNESS as a query: recall@10 of the two most
    compressed ladder rungs (PQ codes, 1-bit Hamming + int8 rerank)
    against the exact int8-cosine reference ranking, per method, as a
    (method, hits, possible, recall_ppm) relation — the report a vector
    platform publishes before switching index types, computed by the
    same engine that serves the indexes. Every branch is the existing
    oracle-exact operator, overlaps are integer set intersections on
    (query_id, match_id), so the whole harness hash-matches the
    composed SQL twin. Scale: each rung's own plan properties hold
    unchanged; the overlap joins see k x queries rows."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ref = sim.quantized_topk(e, q.select("vec_id"), k=10).select(
        "query_id", "match_id"
    ).localCheckpoint()
    # train the PQ codebooks unconditionally (the bpe_train rule: this
    # harness's declared pq branch includes the trainer CTEs)
    pq = sim.pq_topk_with_books(
        e, q, sim.pq_codebooks(e, m=4, ks=8, iters=2), k=10
    ).select("query_id", "match_id")
    bn = sim.binary_topk(e, q.select("vec_id"), k=10, rerank=40).select(
        "query_id", "match_id"
    )
    possible = ref.agg(F.count(F.lit(1)).alias("n"))

    def _score(df, name):
        return (
            df.join(ref, ["query_id", "match_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .crossJoin(F.broadcast(possible))
            .select(
                F.lit(name).alias("method"),
                "hits",
                F.col("n").cast("long").alias("possible"),
                F.expr("(hits * 1000000) div n").alias("recall_ppm"),
            )
        )

    return _score(pq, "pq").unionByName(_score(bn, "binary"))


@_q(
    "data_expectations",
    "pipeline",
    """
SELECT 'lineitem.l_quantity.in_range' AS rule,
       CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
            AS BIGINT) AS violations,
       CAST(count(*) AS BIGINT) AS checked
FROM lineitem
UNION ALL
SELECT 'lineitem.l_orderkey.not_null',
       CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders.o_orderkey.unique',
       CAST(coalesce(sum(c - 1), 0) AS BIGINT),
       CAST(sum(c) AS BIGINT)
FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'lineitem.l_orderkey.fk_orders',
       CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'orders.o_totalprice.positive',
       CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM orders
""",
)
def data_expectations(spark, sf_dir):
    """Declarative data-quality expectations evaluated as ONE relation
    (the Great-Expectations use case, engine-side): range bounds,
    not-null, key uniqueness, referential integrity (lineitem ->
    orders), and domain positivity — each rule a (rule, violations,
    checked) row, so a pipeline gates on `violations == 0` with a
    single collect. Scale: per-table rules are map-side scans sharing
    one pass per table (conditional aggregates); uniqueness is one
    groupBy; the FK check is a broadcast-able left join — no rule
    materializes bad rows unless asked."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n1 = F.count(F.lit(1)).cast("long")
    li_rules = li.agg(
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("range_v"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_v"),
        n1.alias("n"),
    ).selectExpr(
        "stack(2, "
        "'lineitem.l_quantity.in_range', range_v, n, "
        "'lineitem.l_orderkey.not_null', null_v, n) "
        "as (rule, violations, checked)"
    )
    uniq = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("long")
            .alias("violations"),
            F.sum("c").cast("long").alias("checked"),
        )
        .select(
            F.lit("orders.o_orderkey.unique").alias("rule"),
            "violations",
            "checked",
        )
    )
    fk = (
        li.join(
            F.broadcast(o.select("o_orderkey")),
            li.l_orderkey == o.o_orderkey,
            "left",
        )
        .agg(
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("violations"),
            n1.alias("checked"),
        )
        .select(
            F.lit("lineitem.l_orderkey.fk_orders").alias("rule"),
            "violations",
            "checked",
        )
    )
    pos = o.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("violations"),
        n1.alias("checked"),
    ).select(
        F.lit("orders.o_totalprice.positive").alias("rule"),
        "violations",
        "checked",
    )
    return li_rules.unionByName(uniq).unionByName(fk).unionByName(pos)


_PATH_PATTERNS = ["cp", "s.*p", "e{2,}", "^v"]


@_q(
    "path_regex_match",
    "pipeline",
    """
WITH paths AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS path
  FROM events GROUP BY 1)
"""
    + "\nUNION ALL\n".join(
        f"""SELECT '{p.replace("'", "''")}' AS pattern,
       CAST(count(*) FILTER (WHERE regexp_matches(path, '{p}'))
            AS BIGINT) AS matched_users
FROM paths"""
        for p in _PATH_PATTERNS
    ),
)
def path_regex_match(spark, sf_dir):
    """Sequence-pattern matching over user event paths — the
    MATCH_RECOGNIZE use case as one aggregation: each user's history
    collapses to a path string (event-type initials in (ts, event_id)
    order — unique initials by construction), and every pattern is a
    regex over that string ('cp' = purchase immediately after click,
    's.*p' = signup eventually converts, 'e{2,}' = consecutive errors,
    '^v' = lands on a view). Patterns use the Java-regex/RE2 common
    subset so both engines match identically. Scale: one per-user
    shuffle (the same collect-sort shape as sessionization); path
    length = user history, never corpus-wide state; pattern evaluation
    is map-side over the |users| relation."""
    ev = _t(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("code"),
                        )
                    )
                ),
                lambda x: x["code"],
            ),
            "",
        ).alias("path")
    )
    aggs = [
        F.sum(F.when(F.col("path").rlike(p), 1).otherwise(0))
        .cast("long")
        .alias(f"p{i}")
        for i, p in enumerate(_PATH_PATTERNS)
    ]
    one = paths.agg(*aggs)
    stack = ", ".join(
        f"'{p}', p{i}" for i, p in enumerate(_PATH_PATTERNS)
    )
    return one.selectExpr(
        f"stack({len(_PATH_PATTERNS)}, {stack}) "
        "as (pattern, matched_users)"
    )


@_q("doc_keywords", "pipeline", tx.sql_doc_keywords())
def doc_keywords(spark, sf_dir):
    """Per-document keyword extraction: top-3 characteristic terms by
    integer tf-idf (score = (tf*N) div df — ranks identically to
    classic tf-idf, no libm log, bit-identical in both engines). The
    doc-side fingerprint complement to BM25's query-side scoring. One
    (doc, term) groupBy; df is a groupBy over THAT relation
    (vocabulary-sized) joined back broadcast; per-doc top-k is a
    rank<=k window = partial WindowGroupLimit, never a global sort
    (functions/text.doc_keywords)."""
    d = _td(spark, sf_dir)
    return tx.doc_keywords(d)


@_q(
    "vocab_growth",
    "pipeline",
    """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS term
  FROM toks, unnest(range(1, len(t))) AS u(i)),
firsts AS (
  SELECT term, min(doc_id) AS first_doc FROM bg GROUP BY 1),
nd AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n FROM documents),
binned AS (
  SELECT least((first_doc * 10) // n, 9) AS decile,
         CAST(count(*) AS BIGINT) AS new_terms
  FROM firsts, nd GROUP BY 1)
SELECT decile, new_terms,
       CAST(sum(new_terms) OVER (ORDER BY decile) AS BIGINT)
         AS vocab_size
FROM binned
""",
)
def vocab_growth(spark, sf_dir):
    """Vocabulary GROWTH curve (Heaps' law, measured, on the BIGRAM
    vocabulary — the unigram vocab of this corpus saturates in the
    first docs; bigrams keep growing like a real corpus's tail): how
    many NEW distinct terms each tenth of the corpus contributes, with
    the cumulative vocabulary size — the read that sizes a tokenizer
    and predicts whether dedup/BPE state stays Zipf-bounded as the
    corpus grows. Spelled scale-first: the curve needs each term's
    FIRST document only (one groupBy(term) min — vocabulary-sized
    output), then a 10-row bucket rollup and a 10-row cumulative
    window; nothing sorts or windows over corpus-sized data."""
    d = _td(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(tx.bigram_pairs(F.col("text"))).alias("p"),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("term"),
    )
    firsts = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    nd = d.agg((F.max("doc_id") + 1).cast("long").alias("n"))
    binned = (
        firsts.crossJoin(F.broadcast(nd))
        .select(
            F.least(
                F.expr("(first_doc * 10) div n"), F.lit(9).cast("long")
            ).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return binned.select(
        "decile",
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
    )


@_q("collocations", "pipeline", tx.sql_collocations())
def collocations(spark, sf_dir):
    """Collocation mining (Church & Hanks 1990): the adjacent word pairs
    that co-occur far beyond what their unigram frequencies predict —
    multi-word expressions a tokenizer or phrase table wants. Scored by
    EXACT-INTEGER lift (10^6 * P(ab)/(P(a)P(b)) via a two-step integral
    division that keeps intermediates under 64 bits — log-PMI's ranking
    without libm, bit-identical in both engines). One bigram groupBy
    (output Zipf-bounded vocabulary, never corpus rows), unigram counts
    join back broadcast, bigram total on a 1-row broadcast, top-k via
    sort+limit (functions/text.collocations)."""
    d = _td(spark, sf_dir)
    return tx.collocations(d)


@_q("quality_perceptron", "pipeline", tx.sql_quality_perceptron())
def quality_perceptron(spark, sf_dir):
    """A LEARNED quality classifier trained IN-ENGINE, exactly: a batch
    perceptron distills the Gopher rule set's keep/drop labels into
    integer weights over exact count features (bias, tokens, total
    token length, distinct stopwords, chars) — the fasttext-classifier
    shape of GPT-3/CCNet pipelines, with training itself as DataFrame
    algebra. Margins, updates, and error counts are all BIGINT, so the
    whole training TRAJECTORY (per-epoch error + weights) is
    bit-deterministic and hash-matches the unrolled-CTE SQL twin. Each
    epoch is ONE combine-friendly aggregate scan (map-side partial sums,
    O(dim) driver state — the kmeans/kcenter precedent)
    (functions/text.quality_perceptron)."""
    d = _td(spark, sf_dir)
    return tx.quality_perceptron(d)


@_q("kmv_set_overlap", "pipeline", tx.sql_kmv_set_overlap())
def kmv_set_overlap(spark, sf_dir):
    """K-minimum-values DISTINCT-SET ALGEBRA (Beyer et al. 2007; the
    Druid/DataSketches theta-sketch use case): distinct-user overlap
    between every pair of event types, estimated from per-type sketches
    of the 128 smallest key hashes, beside the exact join answer — the
    fourth sketch in the family and the one HLL can't replace (its
    registers union, but intersections need inclusion-exclusion with
    compounding error; KMV's union sketch is computable from the two
    sketches alone, so intersection estimates are first-class).
    k-smallest per type compiles to a partial WindowGroupLimit (each
    map task forwards <= k rows per type); sketch relations are
    |types| * k rows and all pair math joins by broadcast; estimates
    are a fixed exact-int -> double chain, identical in the SQL twin,
    so even the floats hash-match (functions/text.kmv_set_overlap)."""
    ev = _t(spark, sf_dir, "events")
    return tx.kmv_set_overlap(ev)


@_q("hll_distinct", "pipeline", tx.sql_hll_distinct())
def hll_distinct(spark, sf_dir):
    """HyperLogLog distinct count (Flajolet et al. 2007) beside the
    exact answer: 256 max-registers estimate the vocabulary size in
    bounded memory — per partition the register maxes ARE the partial
    sketch and the groupBy max-merge is the sketch union, so the shuffle
    carries m rows per partition while exact countDistinct ships the
    whole vocabulary (the 100 TB contrast, same pitch as
    `cms_heavy_hitters` for frequencies). Register index/rank come from
    integer+string ops over the portable hash (length(bin(w)), no
    floats); the harmonic sum is exact BIGINT in 2^-52 units; the
    linear-counting branch reads m*ln(m/V) from plan-literal tables, so
    no engine libm is ever called — the whole estimator hash-matches
    cross-engine, floats included."""
    d = _td(spark, sf_dir)
    est = tx.hll_estimate(tx.hll_registers(spread(d)))
    exact = (
        d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("t"))
        .agg(F.countDistinct("t").cast("long").alias("exact_distinct"))
    )
    return est.join(F.broadcast(exact))


_BPE_MERGES_CACHE: dict[str, list] = {}


def _bpe_merges(spark, sf_dir):
    """The 10-merge tokenizer for a corpus, trained once per sf_dir and
    memoized — training is deterministic (exact integer counts,
    lexicographic tie-break), so the 4 BPE entries sharing it is purely
    an amortization, not a semantic coupling."""
    if sf_dir not in _BPE_MERGES_CACHE:
        _BPE_MERGES_CACHE[sf_dir] = bpe.train_merges(_td(spark, sf_dir))
    return _BPE_MERGES_CACHE[sf_dir]


@_q("bpe_train", "pipeline", bpe.sql_train_merges(10))
def bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    tokenizer-construction step of a training-data pipeline as Spark
    jobs: ONE corpus-wide groupBy(word) builds the frequency-weighted
    vocabulary (the only shuffle that sees the corpus; every iteration
    after works on the |vocab|-row relation, orders of magnitude smaller
    by Zipf), then each merge round is an explode + combine-friendly
    pair-count groupBy and a 1-row argmax (count desc, then
    lexicographic — deterministic). Merges apply as built-in `replace`
    over separator-delimited symbol strings — leftmost non-overlapping
    replace-all IS BPE's greedy merge order, in codegen JVM string ops —
    so the whole iterative trainer hash-matches an unrolled-CTE DuckDB
    twin. Driver state: exactly n_merges rows."""
    # train unconditionally (the entry's cost IS the trainer — a memo
    # hit would benchmark a dict lookup); populate the memo for the
    # encode/fertility entries, which measure encoding given a tokenizer
    merges = bpe.train_merges(_td(spark, sf_dir))
    _BPE_MERGES_CACHE[sf_dir] = merges
    return bpe.merges_df(spark, merges)


@_q("bpe_encode", "pipeline", bpe.sql_encode_documents(10))
def bpe_encode(spark, sf_dir):
    """BPE encoding with the learned merge list (every 20th doc, bounded
    output): the merge list folds into a chain of 10 builtin `replace`
    expressions applied per word — map-only, no vocabulary join, constant
    plan size — then one per-doc groupBy rebuilds the ordered subword
    stream and token count. The full token stream AND the counts
    hash-match the oracle, proving the distributed tokenizer reproduces
    the sequential algorithm byte-for-byte."""
    d = _td(spark, sf_dir)
    merges = _bpe_merges(spark, sf_dir)
    return bpe.encode_documents(
        spread(d.filter(F.col("doc_id") % 20 == 0)), merges
    )


@_q("bpe_fertility", "pipeline", bpe.sql_fertility_by_language(10))
def bpe_fertility(spark, sf_dir):
    """Tokenizer fertility (subword tokens per word) by language — the
    standard tokenizer-evaluation metric: a tokenizer trained on skewed
    data over-fragments under-represented languages, and this relation
    detects that BEFORE a training run pays for it. Composes the trained
    merge chain (map-only replace encode) with the lang-ID heuristic;
    one tiny groupBy(lang); exact integer token/word counts and
    engine-portable floor arithmetic, so the metric hash-matches the
    oracle."""
    d = _td(spark, sf_dir)
    merges = _bpe_merges(spark, sf_dir)
    return bpe.fertility_by_language(spread(d), merges)


@_q(
    "seq_packing",
    "pipeline",
    """
WITH toks AS (
  SELECT source AS shard, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents),
cum AS (
  SELECT shard, doc_id, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks)
SELECT shard, CAST(floor(prev / 256) AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM cum GROUP BY 1, 2
""",
)
def seq_packing(spark, sf_dir):
    """Greedy contiguous sequence packing: per-shard (source) prefix sums
    assign each doc to the 256-token training sequence its preceding
    cumulative count falls in — concat-then-chunk packing whose window
    parallelizes across shards instead of serializing the corpus."""
    d = _t(spark, sf_dir, "documents")
    return cu.pack_sequences(d, budget=256, shard_col="source")


_PACK_CROSS_PPM = (
    "CAST(floor(CAST(n_crossing AS DOUBLE) * 1000000"
    " / CAST(n_docs AS DOUBLE)) AS BIGINT)"
)
_PACK_TAIL_PPM = (
    "CASE WHEN n_tokens % 256 = 0 THEN CAST(1000000 AS BIGINT)"
    " ELSE CAST(floor(CAST(n_tokens % 256 AS DOUBLE) * 1000000"
    " / 256.0) AS BIGINT) END"
)


@_q(
    "packing_fragmentation",
    "pipeline",
    f"""
WITH toks AS (
  SELECT source AS shard, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents),
cum AS (
  SELECT shard, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks),
per AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN (prev + n_tok - 1) // 256 > prev // 256
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
  FROM cum GROUP BY 1)
SELECT shard, n_docs, n_tokens,
       CAST((n_tokens - 1) // 256 + 1 AS BIGINT) AS n_seqs,
       n_crossing,
       {_PACK_CROSS_PPM} AS crossing_ppm,
       {_PACK_TAIL_PPM} AS tail_fill_ppm
FROM per
""",
)
def packing_fragmentation(spark, sf_dir):
    """Packing-quality audit of the STRICT concat-then-chunk view of the
    same doc_id-ordered layout `seq_packing` uses: per shard, how many
    documents WOULD cross a 256-token boundary if the token stream were
    chunked exactly at 256 (a crossing doc is split between two training
    sequences — the attention-contamination cost that drives best-fit
    packing research), plus the tail fill of the final partial sequence.
    Note the packer itself SPILLS rather than splits (`seq_packing`
    assigns each doc wholly to the sequence its start falls in), so
    n_seqs/n_crossing here quantify what the layout would pay under
    strict chunking — the cost the spill policy avoids — not the
    packer's own seq_id count. `crossing_ppm` is the number a pipeline
    owner weighs against the zero-padding benefit before choosing a
    packing strategy; it rises with mean doc length / budget, so it's
    also a drift alarm when a source's documents grow.
    Scale shape: the same per-shard prefix-sum window the packer itself
    uses (parallel across shards), folded map-side into a |shards|-row
    rollup — the audit costs exactly one pass over the token counts."""
    d = _t(spark, sf_dir, "documents")
    from fluxdb_spark.functions.text import token_count

    toks = d.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    prev = F.coalesce(
        F.sum("n_tok").over(
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    cum = toks.select("shard", "n_tok", prev.alias("prev"))
    per = cum.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum(
            F.expr(
                "CASE WHEN (prev + n_tok - 1) div 256 > prev div 256"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_crossing"),
    )
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.expr("CAST((n_tokens - 1) div 256 + 1 AS BIGINT)").alias(
            "n_seqs"
        ),
        "n_crossing",
        F.expr(_PACK_CROSS_PPM).alias("crossing_ppm"),
        F.expr(_PACK_TAIL_PPM).alias("tail_fill_ppm"),
    )


@_q(
    "token_budget_mix",
    "pipeline",
    f"""
WITH toks AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
         CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1000
                     WHEN 'src2' THEN 500  WHEN 'src3' THEN 250
                     ELSE 400 END AS budget,
         {cu.sql_bucket("doc_id", "mix")} AS ord
  FROM documents),
cum AS (
  SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(coalesce(sum(n_tok) OVER (
              PARTITION BY source ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before,
         budget
  FROM toks)
SELECT source, doc_id, n_tok, cum_before FROM cum WHERE cum_before < budget
""",
)
def token_budget_mix(spark, sf_dir):
    """Token-aware mix construction: each source contributes hash-ordered
    documents until its TOKEN budget is spent (spillover allowed) — the
    step after doc-level weighting when the target is a token mix. One
    running-sum window per source, prefix sums parallel across sources."""
    d = _t(spark, sf_dir, "documents")
    out = cu.token_budget_mix(
        d,
        {"src0": 2000, "src1": 1000, "src2": 500, "src3": 250},
        default_budget=400,
    )
    return out.withColumn("n_tok", F.col("n_tok").cast("long"))


@_q(
    "source_caps",
    "pipeline",
    f"""
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)", "cap")}, doc_id
         ) AS rn
  FROM documents)
SELECT source, doc_id, rn FROM r WHERE rn <= 15
""",
)
def source_caps(spark, sf_dir):
    """Per-source document cap (the web-corpus anti-domination rule: at
    most K pages per domain), selected by salted hash so the kept subset
    is a deterministic uniform sample of each source. `row_number <= K`
    compiles to WindowGroupLimit — map tasks keep K rows per group before
    the shuffle, so a mega-domain can't flood one reducer."""
    d = _t(spark, sf_dir, "documents")
    return cu.cap_per_group(d, "source", 15, key_col="doc_id").select(
        "source", "doc_id", "rn"
    )


@_q("lm_score", "pipeline", tx.SQL_BIGRAM_LM)
def lm_score(spark, sf_dir):
    """Per-doc average log-likelihood under a corpus-trained bigram MLE
    model — the KenLM-style fluency/quality signal, exact and
    self-contained (the corpus is its own model). Model build is one
    combine-friendly groupBy; scoring is one equi-join on (w1, w2)."""
    return tx.bigram_lm_scores(_td(spark, sf_dir))


@_q("chunk_dedup", "pipeline", dd.sql_chunk_dup_stats())
def chunk_dedup(spark, sf_dir):
    """Exact-substring duplication profile: corpus-wide counts of 10-word
    document tiles (Lee et al. exact-substring dedup at chunk
    granularity); join keys are portable 60-bit tile hashes so the
    shuffle carries 8 bytes per tile."""
    return dd.chunk_dup_stats(_td(spark, sf_dir))


@_q("heavy_hitters", "pipeline", tx.sql_heavy_hitters(20))
def heavy_hitters(spark, sf_dir):
    """Corpus vocabulary heavy hitters: top-20 terms by frequency with
    share of all tokens. Explode->groupBy with map-side combine; the
    global rank runs over the reduced |vocab| relation only."""
    return tx.heavy_hitters(_td(spark, sf_dir), k=20)


_DOT_SQL = """
  sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
"""
_NORM_Q = "sqrt(sum(CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
_NORM_C = "sqrt(sum(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"


@_q(
    "embed_topk",
    "pipeline",
    f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 4) AS score
  FROM q, c, idx
  WHERE q.vec_id != c.vec_id
  GROUP BY q.vec_id, c.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
)
def embed_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors (exact ANN baseline)."""
    e = _t(spark, sf_dir, "embeddings")
    out = sim.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q(
    "embed_neardup",
    "pipeline",
    f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT q.vec_id AS d1, c.vec_id AS d2,
         round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 4) AS score
  FROM e q, e c, idx
  WHERE q.label = c.label AND q.vec_id < c.vec_id
  GROUP BY q.vec_id, c.vec_id)
SELECT d1, d2, score FROM scored WHERE score >= 0.35
""",
)
def embed_neardup(spark, sf_dir):
    """Embedding near-dup pairs, blocked by label (equi-join blocking keeps
    the pair space linear at scale)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.blocked_neardup_pairs(e, 0.35)


_TWIN_CTE = """
SELECT vec_id, embedding FROM embeddings
UNION ALL
SELECT vec_id + 10000 AS vec_id,
       CAST(list_transform(range(1, 65),
            i -> embedding[i] * (1 + ((vec_id * 31 + (i - 1)) % 7) * 0.002))
            AS FLOAT[]) AS embedding
FROM embeddings WHERE vec_id < 25
"""


def _planted_twins(e):
    """The Spark half of `_TWIN_CTE`'s planted near-identical twins.
    The perturbation index is computed from the ORIGINAL vec_id through
    an explicit `src_id` projection: referencing `vec_id` inside the
    lambda of the same select that re-aliases it is engine-ambiguous —
    Spark resolves the lambda's column against the ALIASED output
    (vec_id + 10000) while DuckDB's list_transform sees the source
    column, so the two engines would plant different twins (harmless at
    round-4 cosine, fatal under floor-quantization)."""
    return (
        e.filter(F.col("vec_id") < 25)
        .select(F.col("vec_id").alias("src_id"), "embedding")
        .select(
            (F.col("src_id") + 10000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                * (
                    1
                    + ((F.col("src_id") * 31 + i) % 7).cast("double")
                    * 0.002
                ),
            )
            .cast("array<float>")
            .alias("embedding"),
        )
    )


@_q(
    "embed_neardup_lsh",
    "pipeline",
    sim.sql_lsh_neardup(0.99, source_cte=_TWIN_CTE.strip()),
)
def embed_neardup_lsh(spark, sf_dir):
    """WHOLE-CORPUS embedding near-dup via multi-table sign-bit LSH — the
    no-block-key scale path for semantic dedup (blocked_neardup_pairs
    needs a domain key; at 100 TB you rarely have one). The synthetic
    embeddings carry no natural near-dups (max pair cosine ~0.51), so 25
    near-identical twins are PLANTED in-query with a pure-arithmetic
    perturbation computed identically on both sides (the injected-PII
    pattern: non-vacuous at every SF) — the operator must recover exactly
    the 25 planted pairs at cosine >= 0.99 through bucket collision +
    exact verify, while all natural pairs stay far below threshold."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return sim.lsh_neardup_pairs(e.unionByName(_planted_twins(e)), 0.99)


@_q(
    "embed_hard_negatives",
    "pipeline",
    sim.sql_hard_negative_topk(
        10, 5, 15, 0.95,
        source="twins",
        prefix_ctes=f"twins AS ({_TWIN_CTE})",
    ),
)
def embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (the DPR recipe,
    Karpukhin et al. 2020): per anchor, the nearest neighbors that are
    NOT near-duplicates — close enough to be informative negatives, far
    enough to not be false negatives (a planted twin in the negative
    pool poisons the loss). 25 near-identical twins are planted with
    `embed_neardup_lsh`'s arithmetic so each anchor's top-1 IS a
    near-dup (cosine ~0.99, non-vacuous at every SF); it must be
    excluded by the ceiling while the next 10 true negatives re-rank.
    Exact int8 cosine throughout — the whole selection hash-matches."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.unionByName(_planted_twins(e))
    return sim.hard_negative_topk(
        corpus,
        corpus.filter(F.col("vec_id") < 5).select("vec_id"),
        k=10,
        overfetch=15,
        dup_ceiling=0.95,
    )


@_q(
    "semantic_dedup",
    "pipeline",
    sim.sql_semantic_dedup(0.99, k=16, iters=2, source_cte=_TWIN_CTE.strip()),
)
def semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): embedding-level near-dup removal
    scoped WITHIN k-means clusters — the curation pass that removes
    semantically redundant training examples, not just textual
    duplicates. 25 near-identical twins are planted with the same
    arithmetic as `embed_neardup_lsh` (the corpus has no natural
    near-dups, max pair cosine ~0.45 — non-vacuous at every SF); each
    twin lands in its original's cell and is dropped at cosine >= 0.99
    while every natural row survives with its cluster id. Clustering
    first bounds the pair space to within-cell pairs (the paper's scale
    argument) — and k must GROW with the corpus to keep cells at a
    target size (pairs scale as N^2/k; the sf0.001->0.1 sweep at k=4
    went 5.5x on 10x data, k=16 restores near-linear), which is why k
    rides the API, not a constant; the exact fixed-point kmeans +
    round-4 cosine make the whole pipeline oracle-hashable (kmeans is
    floor-quantized, so the twins MUST be planted bit-identically on
    both engines — `_planted_twins` pins the binding)."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.unionByName(_planted_twins(e))
    # train the k=16 SemDeDup model unconditionally inside the entry
    # (bpe_train rule: the declared pipeline is cluster-then-dedup, so
    # the Lloyd loop must be paid per timed run, not memoized away)
    return sim.semantic_dedup(corpus, threshold=0.99, k=16, iters=2)


@_q("embed_ann_lsh", "pipeline", sim.sql_lsh_topk(k=10))
def embed_ann_lsh(spark, sf_dir):
    """ANN via random-hyperplane LSH (bucket equi-join + exact re-rank).
    Fully oracle-hashed: the seeded hyperplanes are inlined into the
    DuckDB twin as literals, so bucketing, candidate generation, and the
    re-rank reproduce exactly; recall vs brute force is additionally
    property-tested in tests/test_similarity.py."""
    e = _t(spark, sf_dir, "embeddings")
    out = sim.lsh_topk(e, e.filter(F.col("vec_id") < 5), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q("embed_ann_ivf", "pipeline", None)  # kmeans cells not SQL-reproducible
def embed_ann_ivf(spark, sf_dir):
    """ANN via IVF coarse quantization (k-means cells + n_probe cell join +
    exact re-rank). ROWS-ONLY BY DESIGN, permanently: a partial-probe ANN
    is genuinely approximate, so no SQL oracle exists or ever will — its
    machinery is instead oracle-HASHED through the provably-brute-force
    full-probe twins (`embed_ann_ivf_exact`, `embed_ann_ivf_materialized`)
    and its recall vs brute force is property-tested in
    tests/test_similarity.py. A driver window showing this entry as
    `no_oracle` is the expected, correct state."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.ivf_topk(e, e.filter(F.col("vec_id") < 5), k=10)


_BRUTE_TOPK10_SQL = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 4) AS score
  FROM q, c, idx
  WHERE q.vec_id != c.vec_id
  GROUP BY q.vec_id, c.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, match_id ASC) AS rank
  FROM scored)
SELECT query_id, match_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


# Margin ratio in EXACT integers (guarded to a nonnegative numerator so
# DuckDB's floor-// and Spark's truncate-div agree): x10000 margin =
# cos * 2 * kf * kb / (fsum*kb + bsum*kf), the Artetxe-Schwenk ratio
# with both k-NN averages brought to one integer denominator.
_MARGIN_X10000 = (
    "CASE WHEN fsum * kb + bsum * kf > 0 AND cos_e6 >= 0 THEN"
    " CAST((cos_e6 * 20000 * kf * kb)"
    " {div} (fsum * kb + bsum * kf) AS BIGINT) END"
)

_MARGIN_SQL = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings
           WHERE label = 0 AND vec_id < 100),
c AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         CAST(floor({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}) * 1000000)
              AS BIGINT) AS cos_e6
  FROM q, c, idx
  GROUP BY q.vec_id, c.vec_id),
fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_e6 DESC, match_id) AS rn FROM scored),
fagg AS (SELECT query_id, CAST(sum(cos_e6) AS BIGINT) AS fsum,
                CAST(count(*) AS BIGINT) AS kf
         FROM fr WHERE rn <= 4 GROUP BY 1),
br AS (SELECT *, row_number() OVER (PARTITION BY match_id
                 ORDER BY cos_e6 DESC, query_id) AS rn FROM scored),
bagg AS (SELECT match_id, CAST(sum(cos_e6) AS BIGINT) AS bsum,
                CAST(count(*) AS BIGINT) AS kb
         FROM br WHERE rn <= 4 GROUP BY 1),
m AS (SELECT s.query_id, s.match_id, s.cos_e6,
             {_MARGIN_X10000.format(div='//')} AS margin_x10000
      FROM scored s JOIN fagg f USING (query_id)
      JOIN bagg b USING (match_id)),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY margin_x10000 DESC, match_id) AS rank FROM m)
SELECT query_id, match_id, cos_e6, margin_x10000,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
"""


@_q("embed_margin_pairs", "pipeline", _MARGIN_SQL)
def embed_margin_pairs(spark, sf_dir):
    """Margin-normalized cross-set alignment mining (Artetxe & Schwenk
    2019 — the LASER/CCMatrix bitext-mining criterion): for a batch of
    label-0 queries against the label-1 pool, score every pair by
    cosine DIVIDED by the mean of both sides' 4-NN cosines — raw cosine
    alone over-selects hub vectors that are close to EVERYTHING; the
    margin ratio cancels each side's neighborhood density, which is why
    the published pipelines mine aligned pairs with it instead. Top-3
    margin-ranked matches per query. Exactness: cosine floors to e6
    integers, both k-NN sums stay integer, and the margin is ONE
    guarded integer division brought to a common denominator — no
    float averages whose summation order could differ across engines.
    Scale shape: the bounded query batch broadcasts (scoring is
    map-side, the embed_topk precedent); the forward rank windows per
    query, the backward rank windows per candidate over <= |batch|
    rows; at 100 TB the label-1 pool side would come from the ANN
    ladder's candidates instead of the full scan — this entry is the
    exact verifier of that pipeline stage."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter((F.col("label") == 0) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = e.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("cvec")
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "match_id",
        F.floor(
            sim.dot(F.col("qvec"), F.col("cvec"))
            / (sim.norm(F.col("qvec")) * sim.norm(F.col("cvec")))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("cos_e6"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_e6"), F.asc("match_id")
    )
    fagg = (
        scored.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 4)
        .groupBy("query_id")
        .agg(
            F.sum("cos_e6").cast("long").alias("fsum"),
            F.count(F.lit(1)).cast("long").alias("kf"),
        )
    )
    wb = Window.partitionBy("match_id").orderBy(
        F.desc("cos_e6"), F.asc("query_id")
    )
    bagg = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= 4)
        .groupBy("match_id")
        .agg(
            F.sum("cos_e6").cast("long").alias("bsum"),
            F.count(F.lit(1)).cast("long").alias("kb"),
        )
    )
    m = (
        scored.join(F.broadcast(fagg), "query_id")
        .join(bagg, "match_id")
        .withColumn(
            "margin_x10000", F.expr(_MARGIN_X10000.format(div="div"))
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("margin_x10000"), F.asc("match_id")
    )
    return (
        m.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "match_id", "cos_e6", "margin_x10000", "rank")
    )


@_q("embed_ann_ivf_exact", "pipeline", _BRUTE_TOPK10_SQL)
def embed_ann_ivf_exact(spark, sf_dir):
    """IVF at full probe (n_probe = n_centroids): every query scans every
    cell, so the result is EXACTLY brute-force top-k — which makes the IVF
    machinery (cell assignment, probe join, re-rank) oracle-hashable, not
    just recall-tested. The approximate configuration is `embed_ann_ivf`."""
    e = _t(spark, sf_dir, "embeddings")
    out = sim.ivf_topk(
        e, e.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=16
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q(
    "multimodal_meta",
    "pipeline",
    """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       (ascii(substr(text, 1, 1)) % 64 + 1) AS width,
       (ascii(substr(text, length(text), 1)) % 64 + 1) AS height
FROM documents
""",
)
def multimodal_meta(spark, sf_dir):
    """Typed metadata over an opaque binary payload column (schema plumbing
    for image/audio/video; real decode is stubbed — see functions/multimodal)."""
    from fluxdb_spark.functions.multimodal import with_binary_payload

    d = with_binary_payload(_td(spark, sf_dir))
    return d.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        (F.ascii(F.substring("text", 1, 1)) % 64 + 1).alias("width"),
        (F.ascii(F.col("text").substr(F.length("text"), F.lit(1))) % 64 + 1).alias(
            "height"
        ),
    )


@_q(
    "multimodal_decode",
    "pipeline",
    """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CASE WHEN length(text) >= 1 THEN ascii(substring(text, 1, 1))
            ELSE 0 END AS magic,
       CAST(
         CASE WHEN length(text) >= 1 THEN ascii(substring(text, 1, 1)) ELSE 0 END * 16777216
       + CASE WHEN length(text) >= 2 THEN ascii(substring(text, 2, 1)) ELSE 0 END * 65536
       + CASE WHEN length(text) >= 3 THEN ascii(substring(text, 3, 1)) ELSE 0 END * 256
       + CASE WHEN length(text) >= 4 THEN ascii(substring(text, 4, 1)) ELSE 0 END
       AS BIGINT) AS header_word,
       CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS checksum
FROM documents
""",
)
def multimodal_decode(spark, sf_dir):
    """Arrow-batched bytes-level decode via mapInPandas: real header parse
    (magic byte, big-endian first word) + full-content md5 checksum. The
    oracle replays the byte math with DuckDB string functions (exact on
    this ASCII corpus — the payload is the text's utf-8 bytes)."""
    from fluxdb_spark.functions.multimodal import (
        decode_metadata,
        with_binary_payload,
    )

    d = with_binary_payload(_td(spark, sf_dir))
    return decode_metadata(d)


@_q(
    "multimodal_frames",
    "pipeline",
    """
WITH g AS (
  SELECT doc_id, text,
         unnest(range(0, octet_length(encode(text)), 128)) AS g
  FROM documents)
SELECT doc_id,
       CAST(g / 128 AS INT) AS frame_idx,
       octet_length(encode(substring(text, CAST(g AS INT) + 1, 64))) AS n_bytes,
       CAST(concat('0x', substr(md5(substring(text, CAST(g AS INT) + 1, 64)), 1, 15)) AS BIGINT) AS frame_hash
FROM g
""",
)
def multimodal_frames(spark, sf_dir):
    """Frame sampling over binary payloads via mapInPandas (64-byte frames
    every 128 bytes), projected to per-frame length + content hash so the
    oracle can replay the slicing byte-for-byte."""
    from fluxdb_spark.functions.multimodal import (
        frame_sample,
        with_binary_payload,
    )

    d = with_binary_payload(_td(spark, sf_dir))
    return frame_sample(d).select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_bytes").alias("n_bytes"),
        F.conv(F.substring(F.md5("frame_bytes"), 1, 15), 16, 10)
        .cast("long")
        .alias("frame_hash"),
    )


@_q("hdr_rollup", "pipeline", tx.sql_hdr_rollup())
def hdr_rollup(spark, sf_dir):
    """Hierarchical QUANTILES via sketch merge — the quantile member of
    the rollup family beside `hll_rollup`: per-source HDR histograms of
    document length, with the corpus-level `__all__` p50/p99 derived by
    summing the per-source bucket counts. Exact quantiles don't merge
    (a p99 of p99s means nothing); the log-bucket histogram does —
    sketch once at the finest level, answer any coarser level as a
    bounded bucket-count sum. The cumulative windows order only the
    per-level bucket space (functions/text.hdr_rollup)."""
    d = _td(spark, sf_dir)
    return tx.hdr_rollup(d)


@_q(
    "hash_split",
    "pipeline",
    f"""
SELECT doc_id, {cu.sql_hash_split('doc_id', 0.05, 0.05)} AS split
FROM documents
""",
)
def hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by salted key hash — the
    split a training pipeline must reproduce forever: stable under
    retries, cluster resizing, and corpus growth (new docs never move old
    ones), and computable by any engine with md5. Pure map-side
    expression, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return cu.hash_split(d, "doc_id", val_frac=0.05, test_frac=0.05).select(
        "doc_id", "split"
    )


@_q("epoch_shuffle", "pipeline", cu.sql_epoch_shuffle([1, 2]))
def epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch shuffle order (training reproducibility):
    each epoch's consumption sequence is specified by one salted
    portable hash per row — sort by `epoch<e>_key` and you have the
    epoch; different epochs decorrelate, retries and cluster resizes
    change nothing, and there is no RNG state to checkpoint. Map-only by
    design: the consumer pays the sort once when writing the epoch
    manifest (a global dense row_number would serialize through one
    partition — the opposite of the point)."""
    d = _t(spark, sf_dir, "documents")
    return cu.epoch_shuffle(d, [1, 2], key_col="doc_id")


@_q(
    "text_normalize",
    "pipeline",
    f"""
SELECT doc_id,
       {tx.sql_normalize_text('text')} AS norm,
       length({tx.sql_normalize_text('text')}) AS norm_len
FROM documents
""",
)
def text_normalize(spark, sf_dir):
    """Canonical text normalization (lowercase, control chars to spaces,
    whitespace collapsed, trimmed) — the first stage of every dedup /
    fingerprint pipeline, and a portability check in itself: Spark's Java
    regex and DuckDB's RE2 must produce byte-identical strings, which is
    why the character classes are explicit (\\s differs between the two
    engines)."""
    d = _t(spark, sf_dir, "documents")
    norm = tx.normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        norm.alias("norm"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@_q("doc_chunking", "pipeline", tx.sql_chunk_documents(32, 24))
def doc_chunking(spark, sf_dir):
    """RAG / context-window chunking: overlapping 32-word windows at
    stride 24 per document, emission stopping once a window reaches the
    document end (no window fully contained in another). Entirely
    map-side — split -> sequence -> higher-order filter/transform ->
    explode, explode factor ~n_words/24 per doc — so chunking a 100 TB
    corpus runs at scan speed with zero shuffle."""
    d = _t(spark, sf_dir, "documents")
    return tx.chunk_documents(d, chunk_words=32, stride=24)


@_q("bm25_rank", "pipeline", tx.sql_bm25(["hash", "join", "spark"], 20))
def bm25_rank(spark, sf_dir):
    """Lexical retrieval ranking: top-20 documents by BM25 for a
    bag-of-terms query — the sparse half of a hybrid (BM25 + dense ANN)
    retrieval pipeline over the corpus. One explode with the query-term
    filter applied BEFORE the shuffle (the groupBy carries only matched
    (doc, term) pairs, never the vocabulary); doc length rides through
    the explode; df / N / avgdl are broadcast 1-row or |q|-row aggregates;
    the top-k compiles to TakeOrdered."""
    return tx.bm25_scores(_td(spark, sf_dir), ["hash", "join", "spark"], 20)


@_q("embed_kmeans", "pipeline", sim.sql_kmeans(4, 3))
def embed_kmeans(spark, sf_dir):
    """Whole-corpus k-means clustering of the embedding table (k=4, 3
    Lloyd iterations over EVERY vector — the semantic-bucketing /
    cluster-balanced-sampling backbone), in exact fixed-point arithmetic
    so an iterative float algorithm is still hash-verifiable: quantize ->
    integer distances -> floor(sum/count) centroid updates, bit-identical
    to the oracle's unrolled CTE chain. Per iteration: one map-only
    assignment pass (centroids are plan literals) + one combine-friendly
    groupBy whose shuffle and driver collect are exactly k*dim rows.
    Training runs unconditionally inside the entry (the bpe_train
    rule: the declared computation IS train+assign, so a memo hit
    would benchmark a map-only assignment and never pay the Lloyd
    loop)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.kmeans_clusters(e, k=4, iters=3)


@_q("paragraph_dedup", "pipeline", dd.sql_paragraph_dedup())
def paragraph_dedup(spark, sf_dir):
    """C4-style sub-document dedup: corpus-wide duplicated '.'-spans are
    kept only at their first (doc_id, pos) occurrence and each document
    is rebuilt from its surviving spans — boilerplate dies corpus-wide,
    unique prose survives. One explode -> combine-friendly hash-ownership
    groupBy -> equi-join back -> per-doc ordered rebuild; the shuffle
    carries distinct span hashes, never span-text x occurrences."""
    d = _t(spark, sf_dir, "documents")
    return dd.paragraph_dedup(d)


@_q("embed_topk_projected", "pipeline", sim.sql_projected_topk(k=10))
def embed_topk_projected(spark, sf_dir):
    """ANN by Johnson-Lindenstrauss random projection: corpus and queries
    projected 64 -> 16 dims with the same seeded plan-literal Gaussian
    planes, exact cosine top-k in the reduced space — 4x fewer multiplies
    per candidate pair, JL-bounded rank distortion (recall vs the
    full-dimension ranking is property-tested in test_similarity). Both
    engines fold each projection in array order, so the reduced-space
    scores hash-match."""
    e = _t(spark, sf_dir, "embeddings")
    out = sim.projected_topk(e, e.filter(F.col("vec_id") < 5), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q("cms_heavy_hitters", "pipeline", tx.sql_cms_heavy_hitters())
def cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimation beside the exact top-20
    vocabulary counts: the sketch's shuffle state is depth x width
    counters REGARDLESS of vocabulary size (each partition's partial
    count is its sketch; the groupBy merge is the sketch merge), the
    estimate is min-over-rows — never below the true count. Integer end
    to end, so exact counts, estimates, and ranks all hash-match."""
    d = _td(spark, sf_dir)
    return tx.cms_heavy_hitters(d, k=20)


@_q("dsir_select", "pipeline", cu.sql_dsir_select())
def dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): pick the 100 documents whose
    hashed unigram+bigram distribution best matches the English slice —
    importance weight = sum of per-bucket counts times the add-one-smoothed
    target/raw log-ratio. The log-ratio is fixed-pointed per bucket, so
    per-doc weights are exact integers (order-independent sums) and the
    top-N selection hash-matches the oracle; selection skews ~1.6x toward
    the target slice on this corpus (non-vacuous at every SF)."""
    d = _td(spark, sf_dir)
    return cu.dsir_select(d, F.col("lang") == "en", n_take=100)


@_q("perplexity_buckets", "pipeline", tx.sql_perplexity_buckets())
def perplexity_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity tiers (head/middle/tail =
    tier 1/2/3): documents ranked by the in-corpus bigram-LM fluency
    score within each language and ntile-split — the classic quality
    stratification before mixing. Deterministic: floor4-truncated scores,
    doc-id tie-break, standard-SQL ntile on both engines."""
    d = _td(spark, sf_dir)
    return tx.perplexity_buckets(d)


@_q("embed_topk_pq", "pipeline", sim.sql_pq_topk(m=4, ks=8, iters=2, k=10))
def embed_topk_pq(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): 4 subspace codebooks
    trained with the exact fixed-point Lloyd loop, corpus encoded as 4
    codeword ids (64x smaller than float32 storage), queries answered by
    asymmetric-distance lookup — m table probes per candidate instead of
    dim multiplies, scanning the codes table instead of the float corpus.
    All-integer arithmetic end to end, so assignment, codes, and the ADC
    ranking hash-match the unrolled-CTE oracle exactly; the recall /
    compression trade-off vs brute force is property-tested separately
    (test_similarity)."""
    e = _t(spark, sf_dir, "embeddings")
    # train the codebooks unconditionally (the bpe_train rule: the
    # declared computation is train+encode+rank, so the trainer must
    # run inside the timed entry, not behind a per-generation memo)
    out = sim.pq_topk_with_books(
        e,
        e.filter(F.col("vec_id") < 5),
        sim.pq_codebooks(e, m=4, ks=8, iters=2),
        k=10,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@_q("embed_covariance", "pipeline", sim.sql_embedding_covariance())
def embed_covariance(spark, sf_dir):
    """Corpus covariance matrix (the PCA / whitening building block) in
    exact fixed-point arithmetic: quantized integer co-moment sums are
    order-independent across any partitioning, so the 64x64 relation is
    bit-identical to the oracle at every scale factor. One outer-product
    posexplode feeding a combine-friendly groupBy (shuffle carries dim^2
    rows per partition after map-side combine, never O(rows))."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_covariance(e)


@_q("embed_label_noise", "pipeline", sim.sql_label_noise())
def embed_label_noise(spark, sf_dir):
    """Label-noise detection (confident-learning-style): every vector is
    assigned to its nearest CLASS centroid; off-diagonal confusion cells
    are suspected mislabels, avg_margin their confidence. Centroids are
    exact floor(sum/count) integers folded in one |labels|*dim groupBy
    (bounded driver collect, the kmeans contract); the corpus pass is
    map-only with centroids as plan literals; output is |labels|^2 rows.
    A first-class curation op: label audits before training on labeled
    corpora."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.label_noise_matrix(e)


# The ingested source stores are process-lifetime fixtures shared by all
# materialized-retrieval entries over the same sf_dir: a standing service
# ingests its corpus ONCE and then pays maintainer catch-up + reads, so
# re-ingesting per query would both mis-measure the standing cost profile
# and triple the work (three entries share each store). Keyed by sf_dir
# only — the on-disk store outlives any one SparkSession, so a fresh
# session just re-opens the path.
_MAT_STORE_CACHE: dict[tuple[str, str], str] = {}


def _mat_store(spark, sf_dir, kind, rows_fn):
    import os
    import tempfile

    from fluxdb_spark.store import ChangelogStore

    key = (kind, str(sf_dir).rstrip("/"))
    root = _MAT_STORE_CACHE.get(key)
    if root is not None and os.path.exists(os.path.join(root, "db")):
        return ChangelogStore(spark, os.path.join(root, "db"))
    root = tempfile.mkdtemp(prefix=f"fluxdb-mat-{kind}-")
    store = ChangelogStore(spark, os.path.join(root, "db"))
    store.write_batch(rows_fn().orderBy("height"))
    _MAT_STORE_CACHE[key] = root
    return store


def _mat_store_docs(spark, sf_dir):
    """Shared ChangelogStore holding the documents table (pk = doc_id,
    value = text, height = doc_id + 1) — the ingest step of the
    materialized-retrieval entries, paid once per corpus."""

    def rows():
        d = _t(spark, sf_dir, "documents")
        return d.select(
            F.lit("doc").alias("collection"),
            F.lit("docs").alias("tablet_id"),
            (F.col("doc_id") + 1).cast("long").alias("height"),
            F.col("doc_id").cast("string").alias("primary_key"),
            F.col("text").alias("value"),
            F.lit(False).alias("is_deletion"),
            F.lit(None).cast("string").alias("block_id"),
            F.lit(None).cast("long").alias("block_num"),
        )

    return _mat_store(spark, sf_dir, "docs", rows)


def _mat_store_vecs(spark, sf_dir):
    """Shared ChangelogStore holding the embeddings table with JSON double
    values (exact round trip: float->double widening + Jackson's
    round-trippable doubles)."""

    def rows():
        e = _t(spark, sf_dir, "embeddings")
        return e.select(
            F.lit("emb").alias("collection"),
            F.lit("vecs").alias("tablet_id"),
            (F.col("vec_id") + 1).cast("long").alias("height"),
            F.col("vec_id").cast("string").alias("primary_key"),
            F.to_json(F.col("embedding").cast("array<double>")).alias(
                "value"
            ),
            F.lit(False).alias("is_deletion"),
            F.lit(None).cast("string").alias("block_id"),
            F.lit(None).cast("long").alias("block_num"),
        )

    return _mat_store(spark, sf_dir, "vecs", rows)


# the `_kcents8` amortization pattern for the materialized-entry
# models: a standing index trains its model ONCE — only assignments are
# incrementally maintained — so the k-means over the store's live
# corpus is frozen per data generation, not retrained per timed run
# (the ivfpq service entry already persists its model beside the store
# via save_centroids/load_centroids; these in-memory memos are the
# same contract for the entries whose model lives nowhere on disk)
_MAT_CENTS_CACHE: dict[tuple, tuple] = {}


def _mat_cents(spark, sf_dir, live, k, iters):
    import os

    st = os.stat(f"{sf_dir}/embeddings.parquet")
    gen = (st.st_mtime_ns, st.st_size)
    key = (sf_dir, k, iters)
    hit = _MAT_CENTS_CACHE.get(key)
    if hit is None or hit[0] != gen:
        hit = (gen, sim.kmeans_centroids(live, k=k, iters=iters))
        _MAT_CENTS_CACHE[key] = hit
    return hit[1]


@_q("dedup_minhash_lsh_materialized", "pipeline", _minhash_sql())
def dedup_minhash_lsh_materialized(spark, sf_dir):
    """`dedup_minhash_lsh` as a STANDING SERVICE: documents are ingested
    into a ChangelogStore, MinHash signatures are materialized into a
    store-backed table by the row-wise IVM maintainer
    (streaming/retrieval.py — one commit-log follow, map-only transform),
    and the dedup query reads the signature table instead of re-hashing
    the corpus. Hash-identical to the recompute form (same oracle): the
    signatures are byte-equal, so candidates and verification agree."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_docs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "sigs"), os.path.join(qroot, "ck")
    rt.refresh(
        spark, str(store.root), dest, rt.minhash_transform(), ck
    )
    sigs = rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
    out = dd.minhash_lsh_dedup_from_sigs(
        sigs, _t(spark, sf_dir, "documents"), 0.8
    ).localCheckpoint()
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q("embed_ann_lsh_materialized", "pipeline", sim.sql_lsh_topk(k=10))
def embed_ann_lsh_materialized(spark, sf_dir):
    """`embed_ann_lsh` reading a MATERIALIZED LSH bucket table: vectors
    are ingested into a ChangelogStore, the bucket table (same seeded
    hyperplanes as the recompute form, exploded per hash table) is
    maintained by the row-wise IVM maintainer, and only the 5 probe
    vectors are hashed at query time — the 100 TB query cost drops from
    a corpus-wide map pass per query batch to the bucket equi-join.
    Hash-identical to `embed_ann_lsh` (same oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "lsh"), os.path.join(qroot, "ck")
    rt.refresh(
        spark, str(store.root), dest, rt.lsh_bucket_transform(), ck
    )
    buckets = rt.lsh_live_buckets(rt.read_derived(spark, dest))
    e = _t(spark, sf_dir, "embeddings")
    out = (
        sim.lsh_topk_from_buckets(
            buckets, e.filter(F.col("vec_id") < 5), k=10
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "bm25_rank_materialized",
    "pipeline",
    tx.sql_bm25(["hash", "join", "spark"], 20),
)
def bm25_rank_materialized(spark, sf_dir):
    """`bm25_rank` as a STANDING SERVICE: documents are ingested into a
    ChangelogStore and the BM25 state is materialized by the row-wise IVM
    maintainer — a postings table (doc, term, tf, dl per version) and a
    doclen table whose live fold picks each document's current version
    and feeds the cached (N, avgdl) corpus stats refreshed with the
    index. The query then reads ONLY term-filtered postings + the O(1)
    cached stats — O(matching postings) per query, never O(corpus text).
    Hash-identical to `bm25_rank` (shared `_score_tf` scoring tail, same
    oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_docs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    p_dest = os.path.join(qroot, "postings")
    d_dest = os.path.join(qroot, "doclen")
    stats = rt.bm25_refresh(
        spark, str(store.root), p_dest, d_dest, os.path.join(qroot, "ck")
    )
    out = tx.bm25_from_postings(
        rt.read_derived(spark, p_dest),
        rt.read_derived(spark, d_dest),
        ["hash", "join", "spark"],
        20,
        stats=stats,
    ).localCheckpoint()
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "embed_topk_quantized_materialized",
    "pipeline",
    sim.sql_quantized_topk(10, 5),
)
def embed_topk_quantized_materialized(spark, sf_dir):
    """`embed_topk_quantized` over a MATERIALIZED int8 table: vectors are
    ingested into a ChangelogStore and the quantized form (the 4x
    compressed storage representation) is maintained as a derived table
    by the row-wise IVM maintainer; queries never touch the float corpus
    — probe q8 comes from the same standing table. Integer-exact
    quantization makes this bit-identical to the recompute form (same
    oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "q8"), os.path.join(qroot, "ck")
    rt.refresh(spark, str(store.root), dest, rt.quantize_transform(), ck)
    qz = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"]).select(
        "vec_id", "q8", "scale_e9"
    )
    out = (
        sim.quantized_topk_from_table(
            qz, qz.filter(F.col("vec_id") < 5).select("vec_id"), k=10
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q("bpe_encode_materialized", "pipeline", bpe.sql_encode_documents(10))
def bpe_encode_materialized(spark, sf_dir):
    """`bpe_encode` as STANDING state: documents are ingested into a
    ChangelogStore, the tokenizer trains ONCE on the store's live corpus
    (merge list persisted at a swap-surviving sidecar, like the centroid
    and PQ models), and the row-wise IVM maintainer keeps a
    (doc_id, n_tokens, tokens) table current — the pre-tokenized corpus
    a training run reads instead of re-tokenizing 100 TB per epoch. The
    maintainer's map-only replace chain reproduces the recompute
    encoder byte-for-byte (same oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_docs(spark, sf_dir)
    live = rt.lww_latest(
        rt.doc_relation(store.changelog()), ["doc_id"]
    ).select("doc_id", "text")
    merges = bpe.train_merges(live)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matbpe-")
    dest, ck = os.path.join(qroot, "toks"), os.path.join(qroot, "ck")
    rt.save_bpe_merges(dest, merges)
    rt.refresh(
        spark, str(store.root), dest, rt.bpe_encode_transform(merges), ck
    )
    out = (
        rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"])
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "n_tokens", "tokens")
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "embed_topk_binary_materialized",
    "pipeline",
    sim.sql_binary_topk(10, 5, 40),
)
def embed_topk_binary_materialized(spark, sf_dir):
    """`embed_topk_binary` over TWO composed standing tables: the packed
    sign-bit table (binarize_transform — 2 BIGINTs/row, the Hamming
    candidate-scan form) and the int8 table (quantize_transform — the
    rerank form), both maintained from the same store's commit log by
    the row-wise IVM maintainer. Queries never touch the float corpus;
    every step is integer-exact, so the standing form is bit-identical
    to the recompute form (same oracle)."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matb-")
    bdest = os.path.join(qroot, "bits")
    qdest = os.path.join(qroot, "q8")
    # one catch-up pass for both standing tables; their independent
    # transform+write jobs overlap (refresh_many)
    rt.refresh_many(
        spark,
        str(store.root),
        [
            (bdest, rt.binarize_transform()),
            (qdest, rt.quantize_transform()),
        ],
    )
    bz = rt.lww_latest(rt.read_derived(spark, bdest), ["vec_id"]).select(
        "vec_id", "b0", "b1"
    )
    qz = rt.lww_latest(rt.read_derived(spark, qdest), ["vec_id"]).select(
        "vec_id", "q8"
    )
    out = (
        sim.binary_topk_from_tables(
            bz, qz, bz.filter(F.col("vec_id") < 5).select("vec_id"), k=10
        )
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q("embed_ann_ivf_materialized", "pipeline", _BRUTE_TOPK10_SQL)
def embed_ann_ivf_materialized(spark, sf_dir):
    """IVF ANN answered ENTIRELY from the materialized assignment table
    (the inverted file as standing state): centroids are trained once on
    the store's corpus, per-row (cluster, embedding) assignments are
    maintained by the row-wise IVM maintainer, and the query assigns its
    probes to their n_probe nearest frozen centroids and re-ranks only
    those cells' rows — the source corpus is never touched at query
    time. Run at FULL probe (n_probe = n_centroids) the result is
    exactly brute-force top-k, so the whole standing-IVF machinery is
    oracle-hashed (`embed_ann_ivf_exact`'s oracle); the approximate
    configuration is served by RetrievalService.ivf_topk."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    live = rt.lww_latest(
        rt.vector_relation(store.changelog()), ["vec_id"]
    ).select("vec_id", "embedding")
    cents = _mat_cents(spark, sf_dir, live, k=8, iters=2)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "ivf"), os.path.join(qroot, "ck")
    rt.refresh(
        spark, str(store.root), dest,
        rt.centroid_assign_transform(cents), ck,
    )
    asg = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"]).select(
        "vec_id", "cluster", "embedding"
    )
    out = (
        sim.ivf_topk_from_assignments(
            asg,
            cents,
            asg.filter(F.col("vec_id") < 5).select("vec_id", "embedding"),
            k=10,
            n_probe=8,
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "embed_topk_pq_materialized",
    "pipeline",
    sim.sql_pq_topk(m=4, ks=8, iters=2, k=10),
)
def embed_topk_pq_materialized(spark, sf_dir):
    """`embed_topk_pq` as a STANDING SERVICE: codebooks are trained ONCE
    on the store's live corpus and frozen to the `_pq_books.json`
    sidecar (`rt.save_pq_books` — same swap-surviving model sidecar as
    the k-means centroids and BPE merges); the PQ codes table (m
    codeword ids per vector — the 64x-compressed corpus) is maintained
    by the row-wise IVM maintainer in a PERSISTENT service directory
    beside the store, so repeat calls load the frozen model and
    catch-up-refresh the codes table instead of re-running 8 sub-kmeans
    trainings + a full rebuild. Queries scan codes + codebook literals,
    never the float vectors. Encoding is the same exact integer argmin
    on both paths, so this is bit-identical to the recompute form (same
    oracle)."""
    import os

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    svc = os.path.join(os.path.dirname(str(store.root)), "pq_svc")
    dest, ck = os.path.join(svc, "pq"), os.path.join(svc, "ck")
    books = rt.load_pq_books(dest)
    if books is None:
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        books = sim.pq_codebooks(live, m=4, ks=8, iters=2)
        rt.save_pq_books(dest, books)
    rt.refresh(
        spark, str(store.root), dest, rt.pq_codes_transform(books), ck
    )
    codes = rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"]).select(
        "vec_id", "codes"
    )
    e = _t(spark, sf_dir, "embeddings")
    return (
        sim.pq_topk_from_codes(
            codes, e.filter(F.col("vec_id") < 5), books, k=10
        )
        .withColumn("rank", F.col("rank").cast("long"))
        .localCheckpoint()
    )


@_q("neardup_probe_materialized", "pipeline", _neardup_probe_sql())
def neardup_probe_materialized(spark, sf_dir):
    """Near-dup MEMBERSHIP probe over the materialized signature table —
    the admission check an ingestion pipeline runs before adding a
    document ("is this new doc a near-dup of anything in the corpus?").
    Probe signatures are read from the same standing table (the probes
    are corpus members, so both sides are byte-identical to the oracle's
    recompute), band-joined against it, and scored with the MinHash
    Jaccard estimate. Per probe the cost is the banded collisions, never
    a corpus scan; the serving form is RetrievalService.neardup, which
    MinHashes an UNSEEN text through the same expressions."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_docs(spark, sf_dir)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "sigs"), os.path.join(qroot, "ck")
    rt.refresh(spark, str(store.root), dest, rt.minhash_transform(), ck)
    sigs = rt.lww_latest(rt.read_derived(spark, dest), ["doc_id"]).select(
        "doc_id", *[f"sig{i}" for i in range(dd.MINHASH_K)]
    )
    out = (
        dd.minhash_probe_candidates(
            sigs, sigs.filter(F.col("doc_id") < 50)
        )
        .filter(F.col("probe_id") != F.col("doc_id"))
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q("embed_kmeans_materialized", "pipeline", sim.sql_kmeans(4, 3))
def embed_kmeans_materialized(spark, sf_dir):
    """`embed_kmeans` as train-once / assign-incrementally: centroids are
    trained from the store's live corpus (`kmeans_centroids` — the exact
    centroids the whole-corpus form measures its final assignment
    against), then per-row assignments are materialized by the row-wise
    IVM maintainer; new vectors would be assigned to the frozen model as
    they commit, with no retrain (the IVF serving shape). Over the same
    corpus this reproduces `kmeans_clusters` bit-for-bit, so the same
    fixed-point oracle hashes both forms."""
    import os
    import shutil
    import tempfile

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    live = rt.lww_latest(
        rt.vector_relation(store.changelog()), ["vec_id"]
    ).select("vec_id", "embedding")
    cents = _mat_cents(spark, sf_dir, live, k=4, iters=3)
    qroot = tempfile.mkdtemp(prefix="fluxdb-matq-")
    dest, ck = os.path.join(qroot, "asg"), os.path.join(qroot, "ck")
    rt.refresh(
        spark, str(store.root), dest,
        rt.centroid_assign_transform(cents), ck,
    )
    out = (
        rt.lww_latest(rt.read_derived(spark, dest), ["vec_id"])
        .select("vec_id", "cluster", "dist")
        .localCheckpoint()
    )
    shutil.rmtree(qroot, ignore_errors=True)
    return out


@_q(
    "hybrid_rrf",
    "pipeline",
    f"""
WITH bm AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM (
    {tx.sql_bm25(["hash", "join", "spark"], 50)}
  ) bm_raw),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, embedding FROM embeddings),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT c.vec_id AS doc_id,
         round({_DOT_SQL} / ({_NORM_Q} * {_NORM_C}), 4) AS score
  FROM q, c, idx
  WHERE q.vec_id != c.vec_id
  GROUP BY q.vec_id, c.vec_id),
dense AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored)
  WHERE rank <= 50),
u AS (
  SELECT doc_id, 1.0 / (60 + rank) AS rrf FROM bm
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS rrf FROM dense)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
       floor(sum(rrf) * 1000000) / 1000000.0 AS rrf_score
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 20
""",
)
def hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25
    top-50) and dense (exact-cosine top-50 for one query vector) rankers
    over the shared document id space — the standard way to combine
    incomparably-scored rankers without calibration. Both inputs are
    bounded top-N lists, so the fusion union + groupBy never touches the
    corpus; the rankers bound their own work (term-filtered explode,
    broadcast query scan)."""
    from pyspark.sql import Window as W

    d = _td(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    bm = (
        tx.bm25_scores(d, ["hash", "join", "spark"], 50)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("bm25"), F.col("doc_id"))
            ),
        )
        .select("doc_id", "rank")
    )
    dense = sim.brute_force_topk(
        e, e.filter(F.col("vec_id") == 0), k=50
    ).select(F.col("match_id").alias("doc_id"), "rank")
    return sim.rrf_fuse([bm, dense], k=20)


@_q(
    "temperature_mix",
    "pipeline",
    cu.sql_temperature_mix("lang", 200, "d.doc_id"),
)
def temperature_mix(spark, sf_dir):
    """Temperature-based mix rebalancing (n^tau re-weighting, tau=0.5):
    a 200-row target apportioned so head languages flatten and tail
    languages boost — the standard LLM training-mix proportioning rule.
    Counts relation is |groups| rows; keep-rates broadcast back; the
    corpus is selected by the deterministic salted-hash filter with no
    shuffle."""
    d = _td(spark, sf_dir)
    return cu.temperature_mix(
        d, "lang", 200, tau=0.5, key_col="doc_id"
    ).select("doc_id", F.col("lang").alias("grp"))


@_q(
    "curation_pipeline",
    "pipeline",
    f"""
WITH norm AS (SELECT doc_id, lang,
              {hash60_sql(tx.sql_normalize_text('text'))} AS h
              FROM documents),
keep AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY h),
surv AS (SELECT n.doc_id, n.lang FROM norm n JOIN keep USING (doc_id)),
c AS (SELECT lang, count(*) AS n FROM surv GROUP BY 1),
r AS (SELECT lang,
             least(10000,
                   CAST(floor(150.0 * sqrt(CAST(n AS DOUBLE))
                        / sum(sqrt(CAST(n AS DOUBLE))) OVER (
                            ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
                        / n * 10000) AS BIGINT)) AS rate
      FROM c)
SELECT s.doc_id, s.lang AS grp
FROM surv s JOIN r USING (lang)
WHERE {cu.sql_bucket('s.doc_id', 'tmix')} < r.rate
""",
)
def curation_pipeline(spark, sf_dir):
    """End-to-end curation pipeline as ONE composed plan — normalize ->
    exact-dedup survivors (min doc_id per normalized-content hash) ->
    temperature-rebalanced mix — the shape a real training-data job
    takes, demonstrating that the operators compose without
    materialization barriers: Catalyst sees a single DAG (map-side
    normalize+hash, one dedup groupBy, the tiny counts relation
    broadcast back, the salted-hash selection map-side) and the oracle
    replays the identical composition as chained CTEs."""
    d = _td(spark, sf_dir)
    hashed = d.select(
        "doc_id", "lang", hash60(tx.normalize_text(F.col("text"))).alias("h")
    )
    survivors = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    surv = hashed.join(survivors.select("doc_id"), "doc_id").select(
        "doc_id", "lang"
    )
    out = cu.temperature_mix(surv, "lang", 150, tau=0.5, key_col="doc_id")
    return out.select("doc_id", F.col("lang").alias("grp"))


@_q("length_buckets", "pipeline", cu.sql_length_buckets(16))
def length_buckets(spark, sf_dir):
    """Length-bucketed batch assignment for batched inference: docs
    grouped into token-length buckets (a batch pads to its bucket
    ceiling, not the corpus max) and numbered into fixed-size batches
    within each bucket — map-side bucketing plus one per-bucket window,
    deterministic by doc_id."""
    return cu.length_buckets(_td(spark, sf_dir), 16)


@_q("embed_quantize", "pipeline", sim.sql_quantize_embeddings_flat())
def embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding table — the 4x
    storage compression a 100 TB vector corpus ships with. Per-vector
    absmax scale; sign-symmetric flooring makes every output an exact
    integer, so the operator is bit-portable and fully hash-checked.
    Element-wise higher-order expressions only: no sums, no shuffle,
    scan-speed at any corpus size. The entry projects the q8 vector as
    a CSV string (the driver canonicalizer requires scalar cells;
    `embed_topk_quantized` proves the array form stays queryable)."""
    return sim.quantize_embeddings(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.array_join("q8", ",").alias("q8_csv"),
        "scale_e9",
    )


@_q("embed_topk_quantized", "pipeline", sim.sql_quantized_topk(10, 5))
def embed_topk_quantized(spark, sf_dir):
    """Cosine top-10 for 5 queries over the int8-QUANTIZED vector table
    — the compressed storage form stays directly queryable, and because
    cosine over q8 is scale-invariant with integer dot products, the
    whole ranking is bit-deterministic and fully hash-checked (unlike
    float ANN, which needs rounding discipline). Same plan shape as the
    float baseline: queries broadcast, corpus scanned once, per-query
    top-k window."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.quantized_topk(
        e, e.filter(F.col("vec_id") < 5).select("vec_id"), k=10
    ).withColumn("rank", F.col("rank").cast("long"))


@_q("embed_topk_binary", "pipeline", sim.sql_binary_topk(10, 5, 40))
def embed_topk_binary(spark, sf_dir):
    """Two-stage ANN over the 1-bit storage form — the most aggressive
    point on the compression ladder (float32 -> int8 -> PQ -> sign bit):
    64 dims pack into two 32-bit words (16-32x smaller), the Hamming
    scan is pure JVM XOR+popcount (the cheapest candidate generator
    possible at 100 TB), and an exact int8-cosine rerank of the bounded
    shortlist restores ranking quality. All-integer arithmetic, so the
    packing, the Hamming cut, and the rerank scores are bit-deterministic
    and fully hash-checked (Charikar 2002 sign-random-projection bound
    with identity planes)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.binary_topk(
        e, e.filter(F.col("vec_id") < 5).select("vec_id"), k=10, rerank=40
    )


_BM25_QUERIES = {
    "q_join": ["hash", "join"],
    "q_scan": ["table", "scan", "filter"],
    "q_stream": ["stream", "window"],
}


@_q("bm25_multi", "pipeline", tx.sql_bm25_multi(_BM25_QUERIES, 10))
def bm25_multi(spark, sf_dir):
    """Batch BM25 — the production retrieval shape: many queries ranked
    in one pass with the query set as a RELATION (bm25_rank inlines one
    query as literals; an evaluation run with thousands of queries
    cannot). Query terms broadcast twice: a semi-join filters the corpus
    explode before the tf shuffle, then matched (doc, term) pairs fan
    out to their queries; df/N/avgdl are corpus-level and computed once,
    shared by every query; per-query top-k windows carry ids and counts
    only."""
    qrows = [
        (qid, t) for qid, ts in sorted(_BM25_QUERIES.items()) for t in ts
    ]
    queries = spark.createDataFrame(qrows, "query_id string, term string")
    return tx.bm25_scores_multi(_td(spark, sf_dir), queries, 10)


@_q(
    "cluster_balanced_sample",
    "pipeline",
    f"""
WITH km AS ({sim.sql_kmeans(4, 3)}),
r AS (
  SELECT cluster, vec_id,
         row_number() OVER (
           PARTITION BY cluster
           ORDER BY {hash60_sql("CAST(vec_id AS VARCHAR)", "cap")}, vec_id
         ) AS rn
  FROM km)
SELECT cluster, vec_id, rn FROM r WHERE rn <= 25
""",
)
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling — the curation job whole-corpus k-means
    exists for: at most 25 vectors per semantic cluster, selected by
    salted hash (a deterministic uniform sample of each cluster, so a
    dominant topic cannot flood the mix). Composes `kmeans_clusters`
    with `cap_per_group`; the cap compiles to WindowGroupLimit, and the
    oracle replays the exact fixed-point k-means plus the same salted
    cap as chained CTEs."""
    e = _t(spark, sf_dir, "embeddings")
    # train unconditionally (bpe_train rule: the declared SQL runs the
    # full k=4/iters=3 Lloyd chain, so the entry pays it per run)
    km = sim.kmeans_clusters(e, k=4, iters=3).select("vec_id", "cluster")
    return cu.cap_per_group(km, "cluster", 25, key_col="vec_id").select(
        "cluster", "vec_id", F.col("rn").cast("long").alias("rn")
    )


@_q("wor_sample", "pipeline", cu.sql_wor_sample(100))
def wor_sample(spark, sf_dir):
    """EXACTLY-k weighted sampling without replacement (Efraimidis &
    Spirtakis 2006): top-100 documents under the portable priority
    floor(ln(u)/w * 1e9), u a salted unit hash, w the token count —
    inclusion proportional to length, sample size fixed (the complement
    of `pps_sample`'s expected-n Poisson draw; a token-budgeted mix
    often needs exactly k rows). Scale shape: the priority is map-side
    and the plan is TakeOrderedAndProject — per-partition heaps, no
    corpus shuffle, k rows to the driver; per-shard top-k sets merge
    into the global sample by the same key, so the draw distributes and
    resumes. (Plain `_t` reader: the priority projection is too cheap
    to justify `spread`'s small-file repartition, and the gate pins the
    Exchange-free shape.)"""
    return cu.wor_sample(_t(spark, sf_dir, "documents"), 100)


@_q("embed_class_separation", "pipeline", sim.sql_class_separation())
def embed_class_separation(spark, sf_dir):
    """Per-class Fisher separation (between-class scatter of each label
    centroid to the global centroid vs within-class scatter of members
    to their own centroid) — the labeled-embedding health screen beside
    `embed_label_noise`: a class whose ratio collapses toward 0 is
    indistinguishable from the corpus mean (mislabeled, duplicated, or
    encoder failure). Exact floor(sum/count) integer centroids and
    int64 scatters; `fisher` is one IEEE multiply + divide,
    NULL-guarded. One centroid fold + one map-only pass against
    plan-literal centroids into a |labels|-row rollup."""
    return sim.class_separation(
        _t(spark, sf_dir, "embeddings"), gcent=_gcent(spark, sf_dir)
    )


@_q(
    "embed_text_consistency",
    "pipeline",
    sim.sql_pair_cosine(_JACCARD_SQL),
)
def embed_text_consistency(spark, sf_dir):
    """Cross-modal agreement screen: every exact text near-dup pair
    (3-word-shingle Jaccard >= 0.8, the `dedup_ngram` PPJoin pipeline)
    scored with its embedding cosine (`cos4`, exact fixed-point) — the
    text index says the two documents are the same thing; a LOW cosine
    on such a pair means the embedding pipeline disagrees with the
    bytes (stale vectors, encoder drift, id misalignment), precisely
    the defect an embedding-backed dedup/retrieval stack must catch
    before it ships. Work scales with |pairs| (two equi-joins against
    the quantized corpus), never all-pairs."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    pairs = dd.jaccard_pairs(d, 0.8)
    return sim.pair_cosine(pairs, e)


@_q(
    "dedup_threshold_sweep",
    "pipeline",
    f"""
WITH pairs AS MATERIALIZED ({_jaccard_sql(0.75)}),
b AS (SELECT CAST(floor(jaccard * 20) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1)
SELECT band, band * 5 AS thresh_x100, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY band DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS surviving_pairs
FROM b
""",
)
def dedup_threshold_sweep(spark, sf_dir):
    """Threshold-tuning table for near-dup dedup from ONE exact pair
    pass: pair counts per 0.05-wide Jaccard band at base threshold
    0.75, with the running top-down total — `surviving_pairs` at band b
    IS the pair volume a dedup run at threshold b/20 would have to
    verify/merge, so the cut point is chosen from this table instead of
    re-running the pipeline per candidate threshold. Scale shape: the
    PPJoin pair pipeline once (the documented exactness grower); the
    band rollup and the cumulative window live on the <= 6-row band
    relation (the HDR-bucket precedent), never the pairs."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(d, 0.75)
    bands = (
        pairs.select(
            F.floor(F.col("jaccard") * 20).cast("long").alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bands.select(
        "band",
        (F.col("band") * 5).alias("thresh_x100"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("surviving_pairs"),
    )


@_q(
    "dedup_threshold_sweep_lsh",
    "pipeline",
    f"""
WITH pairs AS MATERIALIZED ({_minhash_sql(0.75)}),
b AS (SELECT CAST(floor(jaccard * 20) AS BIGINT) AS band,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1)
SELECT band, band * 5 AS thresh_x100, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY band DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS surviving_pairs
FROM b
""",
)
def dedup_threshold_sweep_lsh(spark, sf_dir):
    """The threshold-tuning table (`dedup_threshold_sweep`'s band/
    surviving-pairs layout, VERDICT r11 task 6) priced from the LSH
    CANDIDATE path instead of the exact all-pairs pass — the form a
    100 TB corpus actually runs: MinHash-banded candidates (the shipped
    K=8/B=4/R=2 config), exact-Jaccard verification of only those
    candidates at the 0.75 base cut, then the same 0.05-band rollup
    with the running top-down total. Bands reconcile with the exact
    table within the banding recall that `dedup_lsh_tuning`'s S-curve
    and `dedup_minhash_estimator` quantify (per-band LSH counts are
    always <= the exact counts — candidates are a subset — and the gap
    above the high-recall region is the measured miss rate; a semantic
    test pins both properties). Scale shape: signatures + banded
    equi-join + |candidates| verification joins — the corpus never
    self-joins; the band rollup and cumulative window live on the <= 6-
    row band relation."""
    d = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_dedup(d, 0.75)
    bands = (
        pairs.select(
            F.floor(F.col("jaccard") * 20).cast("long").alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bands.select(
        "band",
        (F.col("band") * 5).alias("thresh_x100"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("surviving_pairs"),
    )


# Engine-common ratio expressions for corpus_self_overlap: computed in
# IEEE doubles and floored (the event_seasonality lift precedent — the
# integer `* 1000000 div` idiom overflows once the numerator passes
# ~9e12, which per-source shingle-instance counts reach long before
# 100 TB), identical text on both engines via F.expr.
_DUP_PPM = (
    "CASE WHEN n_instances > 0 THEN"
    " CAST(floor(CAST(n_instances - n_distinct AS DOUBLE) * 1000000"
    " / CAST(n_instances AS DOUBLE)) AS BIGINT) END"
)
_MEAN_PAIR_PPM = (
    "CASE WHEN n_docs >= 2 AND pair_events IS NOT NULL THEN"
    " CAST(floor(CAST(pair_events AS DOUBLE) * 1000000"
    " / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2)) AS BIGINT) END"
)


@_q(
    "corpus_self_overlap",
    "pipeline",
    f"""
WITH toks AS (SELECT source, string_split(lower(text), ' ') AS t
              FROM documents),
shingle_lists AS (
  SELECT source,
         list_distinct(list_transform(range(1, len(t) - 1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
  FROM toks WHERE len(t) >= 3),
sh AS (SELECT source, unnest(shingles) AS shingle FROM shingle_lists),
dfrel AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS df
          FROM sh GROUP BY 1, 2),
per_source AS (
  SELECT source,
         CAST(sum(df) AS BIGINT) AS n_instances,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum((df * (df - 1)) // 2) AS BIGINT) AS pair_events
  FROM dfrel GROUP BY 1),
base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY 1),
j AS (SELECT b.source, b.n_docs,
             coalesce(p.n_instances, 0) AS n_instances,
             coalesce(p.n_distinct, 0) AS n_distinct,
             p.pair_events
      FROM base b LEFT JOIN per_source p USING (source))
SELECT source, n_docs, n_instances, n_distinct,
       {_DUP_PPM} AS dup_ppm,
       {_MEAN_PAIR_PPM} AS mean_pair_overlap_ppm
FROM j
""",
)
def corpus_self_overlap(spark, sf_dir):
    """Per-source corpus diversity profile WITHOUT materializing pairs —
    the Self-BLEU-class statistic at relation scale: the shingle
    document-frequency fold gives every pairwise-overlap aggregate
    exactly, because sum over shingles of C(df, 2) counts each
    (doc-pair, shared-shingle) event once. `dup_ppm` is the share of
    shingle instances that repeat an earlier doc's shingle within the
    source (internal duplication mass — the signal that a source is
    boilerplate); `mean_pair_overlap_ppm` is the average number of
    3-word shingles a random doc pair shares, x1e6 — the diversity
    number a training-mix owner compares across sources before
    weighting them. The same shingle vocabulary as the dedup family, so
    the numbers reconcile with the near-dup pipeline's thresholds.
    Scale shape: one shingle explode -> (source, shingle) groupBy ->
    |sources|-row rollup — map-side combinable end to end, no joins of
    the corpus against itself, no windows; ratios floor in IEEE doubles
    (the lift_ppm precedent) so counts past the int64 ppm ceiling stay
    portable."""
    d = _td(spark, sf_dir)
    sh = d.select(
        "source",
        F.explode(dd.word_shingles(F.col("text"))).alias("shingle"),
    )
    dfrel = sh.groupBy("source", "shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    per_source = dfrel.groupBy("source").agg(
        F.sum("df").cast("long").alias("n_instances"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.expr("(df * (df - 1)) div 2")).cast("long").alias(
            "pair_events"
        ),
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    j = base.join(F.broadcast(per_source), "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_instances"), F.lit(0).cast("long")).alias(
            "n_instances"
        ),
        F.coalesce(F.col("n_distinct"), F.lit(0).cast("long")).alias(
            "n_distinct"
        ),
        "pair_events",
    )
    return j.select(
        "source",
        "n_docs",
        "n_instances",
        "n_distinct",
        F.expr(_DUP_PPM).alias("dup_ppm"),
        F.expr(_MEAN_PAIR_PPM).alias("mean_pair_overlap_ppm"),
    )


@_q("token_freq_spectrum", "pipeline", _SPECTRUM_SQL)
def token_freq_spectrum(spark, sf_dir):
    """Type-frequency spectrum of the unigram vocabulary — the Zipf
    audit that sizes a tokenizer: per log2-frequency bucket, how many
    distinct types live there (`n_types`), how many token occurrences
    they carry (`occ`), each bucket's share of the corpus, and the
    cumulative mass from the most-frequent bucket down (`top_mass_ppm`
    at bucket b = the corpus coverage a vocabulary truncated at
    frequency >= 2^b achieves). Bucket 0 is the hapax legomena — the
    mass a min-frequency-2 cut discards. Complements `vocab_growth`
    (Heaps curve: vocab vs corpus size) and `heavy_hitters` (the named
    top-k): this is the whole distribution in <= 63 rows. Scale shape:
    tokenize-explode -> vocab-bounded groupBy (Zipf-bounded, the
    collocations precedent) -> map to bucket by 62 integer compares (no
    libm log2 — exact powers of two misround) -> <= 63-row rollup;
    the cumulative window and shares live on that bounded relation."""
    d = _td(spark, sf_dir)
    c = (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return _spectrum_finish(c)


_CQM_KEEP_PPM = (
    "CAST(floor(CAST(n_keep AS DOUBLE) * 1000000"
    " / CAST(n_docs AS DOUBLE)) AS BIGINT)"
)


def _cluster_quality_sql() -> str:
    body, a = sim._sql_kmeans_ctes(4, 3)
    keep = tx.sql_quality_rules("d.text")["keep"]
    return f"""{body},
q AS (SELECT a.cluster, CASE WHEN {keep} THEN 1 ELSE 0 END AS keep,
             len(string_split(d.text, ' ')) AS n_tok
      FROM {a} a JOIN documents d ON d.doc_id = a.vec_id),
per AS (SELECT CAST(cluster AS BIGINT) AS cluster,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_keep,
               CAST(sum(n_tok) AS BIGINT) AS sum_tok
        FROM q GROUP BY 1)
SELECT cluster, n_docs, {_CQM_KEEP_PPM} AS keep_ppm,
       CAST(sum_tok // n_docs AS BIGINT) AS mean_tokens
FROM per
"""


@_q("cluster_quality_matrix", "pipeline", _cluster_quality_sql())
def cluster_quality_matrix(spark, sf_dir):
    """Topic x quality curation matrix: the exact-integer k-means cells
    (semantic topics) joined to the Gopher quality verdicts — per
    cluster, how many docs, what share survives the rule filter, and
    the mean token length. THE table that turns two one-dimensional
    screens into a decision: a cluster with many docs and a low keep
    rate is a boilerplate topic to cap (cheaper than filtering doc by
    doc), one with few docs and a high keep rate is a coverage gap to
    upweight. Scale shape: cells come from the map-only Lloyd passes
    (plan-literal centroids); the cluster relation joins documents on
    the shared id — an id-aligned equi-join both sides are naturally
    keyed by (bucketable/co-partitionable at scale) — and folds into a
    k-row matrix."""
    e = _t(spark, sf_dir, "embeddings")
    d = _t(spark, sf_dir, "documents")
    # train unconditionally (bpe_train rule: the declared SQL runs the
    # full k=4/iters=3 Lloyd chain, so the entry pays it per run)
    km = sim.kmeans_clusters(e, k=4, iters=3).select(
        F.col("vec_id").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
    )
    q = km.join(
        d.select(
            "doc_id",
            F.when(tx.quality_rules(F.col("text"))["keep"], 1)
            .otherwise(0)
            .alias("keep"),
            tx.token_count(F.col("text")).cast("long").alias("n_tok"),
        ),
        "doc_id",
    )
    per = q.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
    )
    return per.select(
        "cluster",
        "n_docs",
        F.expr(_CQM_KEEP_PPM).alias("keep_ppm"),
        F.expr("CAST(sum_tok div n_docs AS BIGINT)").alias("mean_tokens"),
    )


@_q("ivf_balance_audit", "pipeline", _IVF_BALANCE_SQL)
def ivf_balance_audit(spark, sf_dir):
    """IVF index health audit: per-cell occupancy of the coarse
    quantizer (the same exact-integer Lloyd assignment the kmeans/
    semantic-bucketing family uses, k=8 cells), each cell's corpus
    share, its balance lift (1e6 = perfectly even; a 3e6 cell means
    probes landing there scan 3x the ideal), and the worst-case probe
    cost curve: `worst_probe_cum` at row r is the candidate count a
    query pays if its n_probe = r probes all land on the r fullest
    cells — the number that decides whether an IVF index needs
    re-training or cell splitting before a latency target is promised.
    The audit a 100 TB ANN service runs after every index build: skewed
    cells, not average recall, are what break tail latency. Scale
    shape: the Lloyd passes are map-only against plan-literal centroids
    (the kmeans_clusters shape, shuffles carry k*dim rows); the audit
    itself is a k-row rollup + windows on that bounded relation."""
    e = _t(spark, sf_dir, "embeddings")
    km = sim.assign_to_centroids(e, _kcents8(spark, sf_dir)).select(
        "vec_id", "cluster"
    )
    cells = km.groupBy(
        F.col("cluster").cast("long").alias("cell")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return _ivf_balance_finish(cells, k=8)


@_q("event_seasonality", "pipeline", _SEASONALITY_SQL)
def event_seasonality(spark, sf_dir):
    """Day-of-week x hour-of-day traffic profile with an independence
    lift — the seasonality fingerprint an ops/capacity owner reads:
    `lift_ppm` > 1e6 means that cell exceeds what its day and hour
    margins independently predict (a Tuesday-3am spike is an incident,
    not a Tuesday or a 3am). Calendar math is pure integer arithmetic
    on epoch micros (1970-01-01 was a Thursday, hence the +4 — no
    engine dow() convention to disagree on). Scale shape: one map-side
    projection into a <= 168-cell rollup; margins and the total ride
    broadcasts back onto the bounded cell relation."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr(_SEASON_DOW).alias("dow"),
            F.expr(_SEASON_HOUR).alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return _seasonality_finish(cells)


@_q("embed_outliers", "pipeline", sim.sql_embedding_outliers(20))
def embed_outliers(spark, sf_dir):
    """The 20 vectors farthest from the global centroid — the
    out-of-distribution screen beside `embed_norm_audit` (a corrupted
    or wrong-modality vector can carry a perfectly normal magnitude and
    still sit nowhere near the data); these are the rows a curation
    pass inspects by hand before a training run ingests them. Exact
    integer distances against the plan-literal centroid; the top-k is
    TakeOrdered, never a corpus sort."""
    return sim.embedding_outliers(
        _t(spark, sf_dir, "embeddings"), 20, gcent=_gcent(spark, sf_dir)
    )


@_q(
    "wor_sample_stratified",
    "pipeline",
    cu.sql_wor_sample_grouped(5, group_col="lang"),
)
def wor_sample_stratified(spark, sf_dir):
    """Exactly-5-PER-LANGUAGE weighted sampling without replacement —
    the hard-quota draw (`stratified_sample` fixes RATES, `wor_sample`
    draws globally and can starve a rare language; a per-language eval
    set needs COUNTS). Same portable Efraimidis-Spirtakis key; the
    per-group rank compiles to WindowGroupLimit so each map task
    forwards at most k rows per language into the shuffle — never a
    corpus sort."""
    d = _t(spark, sf_dir, "documents")
    return cu.wor_sample_grouped(d, 5, "lang").select(
        "lang", "doc_id", "weight", "pri_e9"
    )


@_q(
    "token_budget_curve",
    "pipeline",
    f"""
WITH lm AS ({tx.SQL_BIGRAM_LM}),
j AS (SELECT CAST(floor(l.avg_logp * 8) AS BIGINT) AS lp_band,
             CAST({tx.sql_token_count('d.text')} AS BIGINT) AS toks
      FROM lm l JOIN documents d USING (doc_id)),
b AS (SELECT lp_band, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS band_tokens
      FROM j GROUP BY 1)
SELECT lp_band, n_docs, band_tokens,
       CAST(sum(n_docs) OVER (ORDER BY lp_band DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_docs,
       CAST(sum(band_tokens) OVER (ORDER BY lp_band DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM b
""",
)
def token_budget_curve(spark, sf_dir):
    """The data-mix PLANNING CURVE: documents and tokens available at
    every fluency cut, cumulated from the most fluent band down —
    "keep everything above band b" reads its doc and token budget off
    one row, so the quality-vs-volume trade is priced as a table
    instead of re-running the filter per candidate cut (the
    `dedup_threshold_sweep` argument applied to quality filtering; the
    CCNet head/middle/tail decision is one lookup here). Bands are the
    eighth-integer log-likelihood bands of `quality_calibration`.
    Scale shape: inherits bigram_lm_scores' model join; the rollup and
    both cumulative windows live on the bounded band relation, never
    the corpus."""
    d = _td(spark, sf_dir)
    lm = tx.bigram_lm_scores(d)
    toks = d.select(
        "doc_id", tx.token_count(F.col("text")).cast("long").alias("toks")
    )
    bands = (
        lm.join(toks, "doc_id")
        .select(
            F.floor(F.col("avg_logp") * 8).cast("long").alias("lp_band"),
            "toks",
        )
        .groupBy("lp_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("band_tokens"),
        )
    )
    w = Window.orderBy(F.desc("lp_band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bands.select(
        "lp_band",
        "n_docs",
        "band_tokens",
        F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("band_tokens").over(w).cast("long").alias("cum_tokens"),
    )


# The analytic MinHash-LSH S-curve for the shipped config (K=8 sigs,
# B=4 bands, R=2 rows/band): P(candidate | jaccard=s) = 1-(1-s^R)^B.
# Written once as engine-common SQL text (CAST/floor/mul only — no pow,
# no libm), evaluated at each 0.05-band midpoint, so Spark and DuckDB
# produce the identical BIGINT ppm literal.
_LSH_S = "least(CAST(band AS DOUBLE) / 20.0 + 0.025, 1.0)"
_LSH_T = f"(1.0 - {_LSH_S} * {_LSH_S})"
_LSH_THEORY = (
    f"CAST(floor((1.0 - {_LSH_T} * {_LSH_T} * {_LSH_T} * {_LSH_T})"
    " * 1000000) AS BIGINT)"
)


def _lsh_tuning_sql() -> str:
    k = dd.MINHASH_K
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, sig{2 * b} AS h0, sig{2 * b + 1} AS h1"
        " FROM sigs"
        for b in range(k // 2)
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
lbands AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM lbands a JOIN lbands b
    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
   AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact AS MATERIALIZED (
  SELECT i.d1, i.d2,
         round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 4) AS jaccard
  FROM inter i
  JOIN shsize sa ON sa.doc_id = i.d1
  JOIN shsize sb ON sb.doc_id = i.d2
  WHERE round(i.inter * 1.0 / (sa.n + sb.n - i.inter), 4) >= 0.75),
emp AS (
  SELECT CAST(floor(e.jaccard * 20) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_caught
  FROM exact e LEFT JOIN cands c ON c.d1 = e.d1 AND c.d2 = e.d2
  GROUP BY 1),
theory AS (
  SELECT CAST(band AS BIGINT) AS band, {_LSH_THEORY} AS theory_ppm
  FROM (SELECT unnest(range(0, 21)) AS band))
SELECT t.band, t.theory_ppm, e.n_pairs, e.n_caught,
       CASE WHEN e.n_pairs > 0 THEN (e.n_caught * 1000000) // e.n_pairs END
         AS caught_ppm
FROM theory t LEFT JOIN emp e USING (band)
"""


@_q("dedup_lsh_tuning", "pipeline", _lsh_tuning_sql())
def dedup_lsh_tuning(spark, sf_dir):
    """The MinHash-LSH TUNING CURVE for the shipped (K=8, B=4, R=2)
    config: per 0.05-wide Jaccard band, the analytic candidate
    probability 1-(1-s^2)^4 at the band midpoint (plan-literal math —
    CAST/floor/multiply only, no libm) beside the EMPIRICAL catch rate
    of raw band candidates against the exact pairs, where exact pairs
    are affordable (bands >= 0.75; below the knee the exact standard is
    precisely what LSH exists to avoid computing, so those rows
    honestly carry theory only). The table that answers "what recall
    does this banding buy at threshold t, and does this corpus behave
    like the theory says" before a 100 TB run commits to a config.
    Scale shape: signatures + banded self-join are the standard LSH
    build; the exact side is the PPJoin pipeline once; rollup and the
    final join live on the 21-row band relation."""
    d = _td(spark, sf_dir)
    theory = (
        spark.range(21)
        .select(F.col("id").cast("long").alias("band"))
        .select("band", F.expr(_LSH_THEORY).alias("theory_ppm"))
    )
    # one shingle-assembly pass for the exact pipeline AND the
    # signature map (shingle_relation sharing)
    with_sh = dd.shingle_relation(d)
    pairs = dd.jaccard_pairs(d, 0.75, shingles_rel=with_sh)
    cand = dd.lsh_candidate_pairs(
        dd.minhash_signatures(d, shingles_rel=with_sh)
    ).withColumn("caught", F.lit(1))
    emp = (
        pairs.join(cand, ["d1", "d2"], "left")
        .select(
            F.floor(F.col("jaccard") * 20).cast("long").alias("band"),
            F.coalesce(F.col("caught"), F.lit(0)).alias("c"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("c").cast("long").alias("n_caught"),
        )
    )
    return theory.join(F.broadcast(emp), "band", "left").select(
        "band",
        "theory_ppm",
        "n_pairs",
        "n_caught",
        F.expr(
            "CASE WHEN n_pairs > 0 THEN (n_caught * 1000000) div n_pairs END"
        ).alias("caught_ppm"),
    )


def _minhash_estimator_sql() -> str:
    k = dd.MINHASH_K
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    agree = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT d1, d2,
         round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
  FROM inter
  JOIN shsize sa ON sa.doc_id = d1
  JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.8),
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
scored AS (
  SELECT CAST(floor(p.jaccard * 20) AS BIGINT) AS band,
         CAST(({agree}) * 125000 AS BIGINT) AS est_ppm,
         CAST(round(p.jaccard * 1000000) AS BIGINT) AS jac_ppm
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.d1
  JOIN sigs b ON b.doc_id = p.d2)
SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
       (CAST(sum(abs(est_ppm - jac_ppm)) AS BIGINT)) // count(*)
         AS mean_abs_err_ppm,
       (CAST(sum(CASE WHEN est_ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000) // count(*) AS agree4_ppm
FROM scored GROUP BY band
"""


@_q("dedup_minhash_estimator", "pipeline", _minhash_estimator_sql())
def dedup_minhash_estimator(spark, sf_dir):
    """MinHash ESTIMATOR-QUALITY table: per exact-Jaccard band, how far
    the 8-slot signature agreement (an unbiased Jaccard estimate in
    1/8th steps) lands from the true value, and how often it clears the
    >= 4/8 cut — the number that justifies `decontaminate_fuzzy`'s
    agreement threshold and sizes the sketch before anyone trusts it at
    100 TB (K signatures estimate Jaccard with sd sqrt(J(1-J)/K); this
    measures it on THIS corpus). Scale shape: the exact pair relation
    drives two equi-joins against the |docs|-row signature table; the
    rollup is <= 5 bands."""
    k = dd.MINHASH_K
    d = _td(spark, sf_dir)
    # one shingle-assembly pass feeds BOTH the exact pair pipeline and
    # the signature map (shingle_relation sharing)
    with_sh = dd.shingle_relation(d)
    pairs = dd.jaccard_pairs(d, 0.8, shingles_rel=with_sh)
    sigs = dd.minhash_signatures(
        d, shingles_rel=with_sh
    ).localCheckpoint()
    a = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(k)],
    )
    b = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(k)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k)
    )
    scored = (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            F.floor(F.col("jaccard") * 20).cast("long").alias("band"),
            (agree * F.lit(125000)).cast("long").alias("est_ppm"),
            F.expr("CAST(round(jaccard * 1000000) AS BIGINT)").alias(
                "jac_ppm"
            ),
        )
    )
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(sum(abs(est_ppm - jac_ppm)) AS BIGINT) div count(*)"
        ).alias("mean_abs_err_ppm"),
        F.expr(
            "(CAST(sum(CASE WHEN est_ppm >= 500000 THEN 1 ELSE 0 END)"
            " AS BIGINT) * 1000000) div count(*)"
        ).alias("agree4_ppm"),
    )


def _tmix_budget_sql(target: int = 200) -> str:
    def block(w_expr: str, tau_x100: int) -> str:
        return f"""
SELECT CAST({tau_x100} AS BIGINT) AS tau_x100,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum({tx.sql_token_count('d.text')}), 0) AS BIGINT)
         AS n_tokens
FROM documents d
JOIN (SELECT grp,
             least({cu.SAMPLE_BUCKETS},
                   CAST(floor({float(target)} * {w_expr}
                        / sum({w_expr}) OVER (
                            ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
                        / n * {cu.SAMPLE_BUCKETS}) AS BIGINT)) AS rate
      FROM (SELECT lang AS grp, count(*) AS n FROM documents GROUP BY 1)) r
  ON d.lang = r.grp
WHERE {cu.sql_bucket('doc_id', 'tmix')} < r.rate"""

    blocks = [
        block("pow(CAST(n AS DOUBLE), 0.0)", 0),
        block("sqrt(CAST(n AS DOUBLE))", 50),
        block("pow(CAST(n AS DOUBLE), 1.0)", 100),
    ]
    return "\nUNION ALL\n".join(blocks)


@_q("temperature_budget_sweep", "pipeline", _tmix_budget_sql())
def temperature_budget_sweep(spark, sf_dir):
    """The temperature-mixing BUDGET SWEEP: realized document and token
    counts of the same deterministic hash-selected mix at tau = 0
    (uniform across languages), 0.5 (the sqrt flattening most LLM mixes
    ship), and 1 (natural proportions) — the `token_budget_curve`
    argument applied to mixture rebalancing: the tau-vs-budget trade is
    priced as one table instead of materializing a mix per candidate.
    Counts are REALIZED (the exact salted-hash filter `temperature_mix`
    applies), not expectations, so the table states precisely what the
    pipeline would produce. tau=0/1 evaluate through IEEE-exact pow
    identities and tau=0.5 through correctly-rounded sqrt — the only
    portable points on the pow curve, which is why the sweep ships
    these three. Scale shape: per tau, one |groups|-row rate relation
    broadcast back and one conditional-aggregate scan."""
    d = _t(spark, sf_dir, "documents")
    parts = []
    for tau_x100, tau in ((0, 0.0), (50, 0.5), (100, 1.0)):
        kept = cu.temperature_mix(d, "lang", 200, tau)
        parts.append(
            kept.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.coalesce(
                    F.sum(tx.token_count(F.col("text"))), F.lit(0)
                )
                .cast("long")
                .alias("n_tokens"),
            ).select(
                F.lit(tau_x100).cast("long").alias("tau_x100"),
                "n_docs",
                "n_tokens",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q("corpus_fingerprint", "pipeline", _FINGERPRINT_SQL)
def corpus_fingerprint(spark, sf_dir):
    """Order-invariant dataset fingerprint — the "is this EXACTLY the
    data the last run trained on" check a reproducible pipeline runs
    before committing compute: per-source XOR-fold of portable
    per-document content hashes (id|text), plus the corpus level as an
    XOR of the per-source fingerprints — the sketch-merge property
    again (hll_rollup's argument): fingerprint once at the finest
    level, roll up to any coarser level without a second scan, and
    compare fingerprints across clusters/runs/engines in O(1). XOR is
    commutative/associative and map-side combinable, so the fold is
    one scan with a |sources|-row shuffle at any corpus size; any
    single-document change flips the fingerprint."""
    per_source = _fingerprint_per_source(_t(spark, sf_dir, "documents"))
    return per_source.unionByName(_fingerprint_all_row(per_source))


# Poisson(1) CDF thresholds in 2^60 fixed point (floor(cum_k * 2^60) for
# k = 0..4, weights clamped at 5) — computed once in Python doubles and
# embedded as identical integer literals in BOTH engines, so the
# bootstrap weights are bit-portable with no runtime exp()/factorial.
_POIS_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
]
_BOOT_B = 32


def _pois_w_sql(u_expr: str) -> str:
    return (
        f"CASE WHEN {u_expr} < {_POIS_T[0]} THEN 0"
        f" WHEN {u_expr} < {_POIS_T[1]} THEN 1"
        f" WHEN {u_expr} < {_POIS_T[2]} THEN 2"
        f" WHEN {u_expr} < {_POIS_T[3]} THEN 3"
        f" WHEN {u_expr} < {_POIS_T[4]} THEN 4"
        " ELSE 5 END"
    )


@_q(
    "quality_keep_bootstrap",
    "pipeline",
    f"""
WITH base AS (
  SELECT source, doc_id,
         CASE WHEN {tx.sql_quality_rules('text')['keep']} THEN 1 ELSE 0 END
           AS keep
  FROM documents),
point AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         (CAST(sum(keep) AS BIGINT) * 1000000) // count(*) AS keep_ppm
  FROM base GROUP BY source),
draws AS (
  -- hash once per (row, replicate); the CASE below reads u five times
  -- (ADVICE r11: inlining the digest 5x made DuckDB eval it 5x)
  SELECT source, b, keep,
         {hash60_sql(
             "concat(CAST(doc_id AS VARCHAR), '|', CAST(b AS VARCHAR))",
             "boot")} AS u
  FROM base, UNNEST(range(0, {_BOOT_B})) AS r(b)),
resamples AS (
  SELECT source, b, {_pois_w_sql("u")} AS w, keep
  FROM draws),
per_b AS (
  SELECT source, b,
         CASE WHEN sum(w) > 0
              THEN (CAST(sum(w * keep) AS BIGINT) * 1000000)
                   // CAST(sum(w) AS BIGINT) END AS kp
  FROM resamples GROUP BY 1, 2),
ci AS (
  SELECT source, CAST(min(kp) AS BIGINT) AS boot_lo_ppm,
         CAST(max(kp) AS BIGINT) AS boot_hi_ppm,
         CAST(sum(kp) AS BIGINT) // count(kp) AS boot_mean_ppm
  FROM per_b GROUP BY source)
SELECT p.source, p.n_docs, p.keep_ppm, c.boot_lo_ppm, c.boot_hi_ppm,
       c.boot_mean_ppm
FROM point p JOIN ci c USING (source)
""",
)
def quality_keep_bootstrap(spark, sf_dir):
    """Per-source Gopher keep-rate WITH UNCERTAINTY — the Poisson
    bootstrap (Chamandy et al., the industry-standard one-pass
    bootstrap at massive scale: classic resampling needs n draws with
    replacement per replicate, which cannot stream; Poisson(1) weights
    per (row, replicate) are iid-close and embarrassingly map-side):
    32 deterministic resamples from fixed-point CDF thresholds on a
    salted hash, min/max/mean of the replicate keep-rates beside the
    point estimate. The table that says whether two sources' quality
    REALLY differ or the gap is sampling noise — the decision gate
    before `source_caps` demotes one. Scale shape: B x map-side weight
    projection into a |sources| x B rollup, then a |sources|-row CI
    fold; no row ever shuffles."""
    d = _td(spark, sf_dir)
    base = d.select(
        "source",
        "doc_id",
        F.when(tx.quality_rules(F.col("text"))["keep"], 1)
        .otherwise(0)
        .alias("keep"),
    ).localCheckpoint(eager=False)
    point = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "(CAST(sum(keep) AS BIGINT) * 1000000) div count(*)"
        ).alias("keep_ppm"),
    )
    u = hash60(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("b").cast("string"),
        ),
        "boot",
    )
    w = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .when(u < _POIS_T[3], 3)
        .when(u < _POIS_T[4], 4)
        .otherwise(5)
    )
    per_b = (
        base.select(
            "source",
            "doc_id",
            "keep",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .select("source", "b", w.alias("w"), "keep")
        .groupBy("source", "b")
        .agg(
            F.expr(
                "CASE WHEN sum(w) > 0 THEN"
                " (CAST(sum(w * keep) AS BIGINT) * 1000000)"
                " div CAST(sum(w) AS BIGINT) END"
            ).alias("kp")
        )
    )
    ci = per_b.groupBy("source").agg(
        F.min("kp").cast("long").alias("boot_lo_ppm"),
        F.max("kp").cast("long").alias("boot_hi_ppm"),
        F.expr("CAST(sum(kp) AS BIGINT) div count(kp)").alias(
            "boot_mean_ppm"
        ),
    )
    return point.join(F.broadcast(ci), "source")


# Engine-common ratios for packing_budget_sweep (double-floor form:
# token totals at 100 TB overflow the int64 `* 1000000` idiom).
_PBS_CROSS_PPM = (
    "CAST(floor(CAST(n_crossing AS DOUBLE) * 1000000"
    " / CAST(n_docs AS DOUBLE)) AS BIGINT)"
)
_PBS_WASTE_PPM = (
    "CAST(floor(CAST(n_seqs * budget - n_tokens AS DOUBLE) * 1000000"
    " / CAST(n_seqs * budget AS DOUBLE)) AS BIGINT)"
)

_PBS_BUDGETS = (64, 128, 256, 512)


@_q(
    "packing_budget_sweep",
    "pipeline",
    f"""
WITH toks AS (
  SELECT source AS shard, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents),
cum AS (
  SELECT shard, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM toks),
b AS (SELECT unnest([{", ".join(str(x) for x in _PBS_BUDGETS)}]) AS budget),
flags AS (
  SELECT budget, shard, n_tok,
         CASE WHEN (prev + n_tok - 1) // budget > prev // budget
              THEN 1 ELSE 0 END AS crossing
  FROM cum, b),
pershard AS (
  SELECT budget, shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(crossing) AS BIGINT) AS n_crossing
  FROM flags GROUP BY 1, 2),
per AS (
  SELECT budget,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum((n_tokens - 1) // budget + 1) AS BIGINT) AS n_seqs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(n_crossing) AS BIGINT) AS n_crossing
  FROM pershard GROUP BY 1)
SELECT CAST(budget AS BIGINT) AS budget, n_docs, n_seqs, n_crossing,
       {_PBS_CROSS_PPM} AS crossing_ppm,
       {_PBS_WASTE_PPM} AS waste_ppm
FROM per
""",
)
def packing_budget_sweep(spark, sf_dir):
    """Sequence-budget decision table: the strict concat-then-chunk
    audit (`packing_fragmentation`) swept across budgets {64, 128,
    256, 512} in ONE pass — per budget, how many docs would split at
    a chunk boundary (crossing_ppm, the attention-contamination cost,
    falls as budgets shrink relative to doc length... rises as docs
    outgrow the budget) vs the end-of-shard padding waste (waste_ppm,
    falls as budgets shrink). The two curves cross; the table IS the
    budget choice, priced from the corpus instead of folklore — the
    `dedup_threshold_sweep` pattern applied to packing. Scale shape:
    the per-shard prefix-sum window runs ONCE (budget-independent);
    the 4-way budget explode happens on the windowed rows map-side and
    folds through two combine-friendly rollups to |budgets| rows — no
    extra corpus pass per budget."""
    d = _t(spark, sf_dir, "documents")
    from fluxdb_spark.functions.text import token_count

    toks = d.select(
        F.col("source").alias("shard"),
        F.col("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    prev = F.coalesce(
        F.sum("n_tok").over(
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    cum = toks.select("shard", "n_tok", prev.alias("prev"))
    flags = cum.select(
        "shard",
        "n_tok",
        "prev",
        F.explode(
            F.array(*[F.lit(b).cast("long") for b in _PBS_BUDGETS])
        ).alias("budget"),
    ).select(
        "budget",
        "shard",
        "n_tok",
        F.expr(
            "CASE WHEN (prev + n_tok - 1) div budget > prev div budget"
            " THEN 1 ELSE 0 END"
        ).alias("crossing"),
    )
    pershard = flags.groupBy("budget", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("crossing").cast("long").alias("n_crossing"),
    )
    per = pershard.groupBy("budget").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.expr("(n_tokens - 1) div budget + 1"))
        .cast("long")
        .alias("n_seqs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_crossing").cast("long").alias("n_crossing"),
    )
    return per.select(
        "budget",
        "n_docs",
        "n_seqs",
        "n_crossing",
        F.expr(_PBS_CROSS_PPM).alias("crossing_ppm"),
        F.expr(_PBS_WASTE_PPM).alias("waste_ppm"),
    )


_BUCKET_TOP_PPM = (
    "CAST(floor(CAST(max_bucket AS DOUBLE) * 1000000"
    " / CAST(n_rows AS DOUBLE)) AS BIGINT)"
)


def _bucket_skew_sql() -> str:
    # band structure DERIVED from the production constants, exactly as
    # dd._banded derives it (bands = LSH_BANDS, rows = k // bands) —
    # hardcoding either constant here would silently desynchronize the
    # oracle from the plan if the banding is retuned.
    k = dd.MINHASH_K
    bands = dd.LSH_BANDS
    rpb = k // bands
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    h_names = ", ".join(f"h{r}" for r in range(rpb))
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(f"sig{b * rpb + r} AS h{r}" for r in range(rpb))
        + " FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
bands AS ({band_rows}),
occ AS (
  SELECT band, {h_names}, CAST(count(*) AS BIGINT) AS sz
  FROM bands GROUP BY ALL),
per AS (
  SELECT band,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(sz) AS BIGINT) AS n_rows,
         CAST(max(sz) AS BIGINT) AS max_bucket,
         CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
  FROM occ GROUP BY 1)
SELECT CAST(band AS BIGINT) AS band, n_buckets, n_rows, max_bucket,
       cand_pairs, {_BUCKET_TOP_PPM} AS top_bucket_ppm
FROM per
"""


@_q("dedup_bucket_skew", "pipeline", _bucket_skew_sql())
def dedup_bucket_skew(spark, sf_dir):
    """LSH bucket-occupancy audit — `ivf_balance_audit`'s question
    asked of the MinHash banded join: per band, how many buckets, the
    largest bucket's row share, and the candidate-pair volume the band
    generates (sum over buckets of C(size, 2) — exactly the rows the
    self-join shuffle must emit). A hot bucket is quadratic in its own
    size, so at 100 TB this table IS the skew forecast for
    `dedup_minhash_lsh`'s shuffle: a band whose top bucket owns a
    large top_bucket_ppm is where a salting/bucket-split decision gets
    made BEFORE the join stalls, and cand_pairs growth across corpus
    doublings (tools/audit_scale_probe.py) is the measured exponent of
    the whole LSH pipeline. Scale shape: signatures fold map-side from
    the distinct-shingle hash join; bucket occupancy is one
    combine-friendly groupBy on (band, h0, h1); the per-band rollup
    lives on the |buckets| relation — the pair space itself is priced,
    never materialized."""
    d = _t(spark, sf_dir, "documents")
    banded = dd._banded(dd.minhash_signatures(d))
    rpb = dd.MINHASH_K // dd.LSH_BANDS  # same derivation as dd._banded
    occ = banded.groupBy(
        F.col("bucket.band").alias("band"),
        *[F.col(f"bucket.h{r}").alias(f"h{r}") for r in range(rpb)],
    ).agg(F.count(F.lit(1)).cast("long").alias("sz"))
    per = occ.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("long").alias("cand_pairs"),
    )
    return per.select(
        F.col("band").cast("long").alias("band"),
        "n_buckets",
        "n_rows",
        "max_bucket",
        "cand_pairs",
        F.expr(_BUCKET_TOP_PPM).alias("top_bucket_ppm"),
    )


_MAT_RECALL_PPM = (
    "CAST(floor(CAST(n_hits AS DOUBLE) * 1000000"
    " / (CAST(n_queries AS DOUBLE) * 10)) AS BIGINT)"
)

_MAT_DIMS = (8, 16, 32, 64)


def _matryoshka_sql() -> str:
    per_m = []
    for m in _MAT_DIMS:
        per_m.append(f"""
t{m} AS (
  SELECT query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(
                 sum(CAST(q.embedding[i] AS DOUBLE)
                     * CAST(c.embedding[i] AS DOUBLE))
                 / (sqrt(sum(CAST(q.embedding[i] AS DOUBLE)
                             * CAST(q.embedding[i] AS DOUBLE)))
                    * sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
                               * CAST(c.embedding[i] AS DOUBLE)))),
                 4) DESC,
                      c.vec_id ASC) AS rank
    FROM qset q, cset c, (SELECT unnest(range(1, {m + 1})) AS i) ix
    WHERE q.vec_id != c.vec_id
    GROUP BY q.vec_id, c.vec_id)
  WHERE rank <= 10),
h{m} AS (
  SELECT {m} AS m_dims, CAST(count(*) AS BIGINT) AS n_hits
  FROM t{m} t JOIN t{max(_MAT_DIMS)} f
    ON t.query_id = f.query_id AND t.match_id = f.match_id)""")
    unions = "\nUNION ALL\n".join(f"SELECT * FROM h{m}" for m in _MAT_DIMS)
    return f"""
WITH qset AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
cset AS (SELECT vec_id, embedding FROM embeddings),
{", ".join(per_m)},
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qset),
u AS ({unions})
SELECT CAST(m_dims AS BIGINT) AS m_dims, n_queries, n_hits,
       {_MAT_RECALL_PPM} AS recall_ppm
FROM u, nq
"""


@_q("embed_matryoshka_eval", "pipeline", _matryoshka_sql())
def embed_matryoshka_eval(spark, sf_dir):
    """Matryoshka / dimension-truncation ladder (Kusupati et al. 2022):
    recall@10 of brute-force cosine over the FIRST m dims (m in {8, 16,
    32, 64}) against the full-dim exact top-10 — the decision table for
    trading index width against recall BEFORE building the narrow
    index: storing 16 of 64 dims cuts the scan+memory bill 4x and this
    table prices exactly what that costs in recall (the m=64 row is the
    identity anchor at 1.0). Complements `embed_topk_projected` (JL
    random projection) with the nested-prefix truncation a
    Matryoshka-trained embedder is built for. Scale shape: per m one
    map-only scored scan (F.slice is free column pruning at the Arrow
    level for a real matryoshka layout) into TakeOrdered top-10 per
    query; the recall join touches |queries| * 10 rows; the full-dim
    baseline is localCheckpointed once and reused by all rungs."""
    e = _t(spark, sf_dir, "embeddings")
    q_pred = F.col("vec_id") < 5
    full = (
        sim.brute_force_topk(e, e.filter(q_pred), k=10)
        .select("query_id", "match_id")
        .localCheckpoint()  # consumed by all |_MAT_DIMS| recall joins
    )
    n_q = full.select("query_id").distinct().count()
    per = []
    for m in _MAT_DIMS:
        if m == max(_MAT_DIMS):
            # the identity anchor IS the checkpointed baseline — reuse
            # it instead of re-scoring the full-width corpus
            t = full
        else:
            ec = e.select(
                "vec_id", F.slice("embedding", 1, m).alias("embedding")
            )
            t = sim.brute_force_topk(ec, ec.filter(q_pred), k=10).select(
                "query_id", "match_id"
            )
        per.append(
            t.join(full, ["query_id", "match_id"]).agg(
                F.lit(m).cast("long").alias("m_dims"),
                F.lit(n_q).cast("long").alias("n_queries"),
                F.count(F.lit(1)).cast("long").alias("n_hits"),
            )
        )
    out = per[0]
    for p in per[1:]:
        out = out.unionByName(p)
    return out.select(
        "m_dims",
        "n_queries",
        "n_hits",
        F.expr(_MAT_RECALL_PPM).alias("recall_ppm"),
    )


_ANN_RECALL_PPM = (
    "CAST(floor(CAST(n_hits AS DOUBLE) * 1000000"
    " / (CAST(n_queries AS DOUBLE) * 10)) AS BIGINT)"
)

_ANN_PROBES = (1, 2, 4, 8)


def _ann_recall_sql() -> str:
    body, a = sim._sql_kmeans_ctes(8, 3)
    probes_lit = ", ".join(str(p) for p in _ANN_PROBES)
    return f"""{body},
cells AS (SELECT vec_id, cluster FROM {a}),
qcd AS (
  -- cent2, not cent3: the frozen Spark model is the centroids of the
  -- FINAL assignment pass (the update after it is skipped — see
  -- _kmeans_fit), i.e. the iter-2 model that a3 measures against.
  SELECT e.vec_id AS query_id, c.cluster,
         sum((e.val - c.cv) * (e.val - c.cv)) AS d
  FROM e JOIN cent2 c USING (pos)
  WHERE e.vec_id < 5 GROUP BY 1, 2),
qcr AS (
  SELECT query_id, cluster,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d, cluster) AS crank
  FROM qcd),
np AS (SELECT unnest([{probes_lit}]) AS n_probe),
probes AS (
  SELECT np.n_probe, q.query_id, q.cluster
  FROM qcr q, np WHERE q.crank <= np.n_probe),
qset AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
cset AS (SELECT s.vec_id, s.embedding, c.cluster
         FROM embeddings s JOIN cells c ON c.vec_id = s.vec_id),
idx AS (SELECT unnest(range(1, 65)) AS i),
scored AS (
  SELECT p.n_probe, p.query_id, c.vec_id AS match_id,
         sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
         / (sqrt(sum(CAST(q.embedding[i] AS DOUBLE)
                     * CAST(q.embedding[i] AS DOUBLE)))
            * sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
                       * CAST(c.embedding[i] AS DOUBLE)))) AS score
  FROM probes p
  JOIN cset c ON c.cluster = p.cluster
  JOIN qset q ON q.vec_id = p.query_id, idx
  WHERE c.vec_id != p.query_id
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT n_probe, query_id, match_id,
         row_number() OVER (PARTITION BY n_probe, query_id
                            ORDER BY round(score, 4) DESC,
                                     match_id ASC) AS rank
  FROM scored),
approx AS (SELECT n_probe, query_id, match_id FROM ranked WHERE rank <= 10),
fullsc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(
               sum(CAST(q.embedding[i] AS DOUBLE)
                   * CAST(c.embedding[i] AS DOUBLE))
               / (sqrt(sum(CAST(q.embedding[i] AS DOUBLE)
                           * CAST(q.embedding[i] AS DOUBLE)))
                  * sqrt(sum(CAST(c.embedding[i] AS DOUBLE)
                             * CAST(c.embedding[i] AS DOUBLE)))),
               4) DESC,
                    c.vec_id ASC) AS rank
  FROM qset q, embeddings c, idx
  WHERE q.vec_id != c.vec_id
  GROUP BY q.vec_id, c.vec_id),
fullrank AS (SELECT query_id, match_id FROM fullsc WHERE rank <= 10),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
       FROM fullrank),
hits AS (
  SELECT a.n_probe, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a JOIN fullrank f
    ON a.query_id = f.query_id AND a.match_id = f.match_id
  GROUP BY 1)
SELECT CAST(np.n_probe AS BIGINT) AS n_probe, nq.n_queries,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(floor(CAST(coalesce(h.n_hits, 0) AS DOUBLE) * 1000000
            / (CAST(nq.n_queries AS DOUBLE) * 10)) AS BIGINT) AS recall_ppm
FROM np LEFT JOIN hits h ON h.n_probe = np.n_probe, nq
"""


@_q("embed_ann_recall_curve", "pipeline", _ann_recall_sql())
def embed_ann_recall_curve(spark, sf_dir):
    """THE IVF tuning table: recall@10 vs n_probe (1, 2, 4, 8 of the 8
    frozen coarse cells) against the exact top-10 — the read-side
    companion to `ivf_balance_audit`'s occupancy table. Together they
    answer the only two questions an ANN operator tunes at 100 TB: how
    skewed are the cells (cost ceiling per probe) and how much recall
    each additional probe buys (this curve; the n_probe=8 full-probe
    row is the provably-exact anchor at 1.0, the same identity that
    lets `embed_ann_ivf_exact` oracle-hash the machinery). Fully
    oracle-hashed because every approximate step is exact integer
    arithmetic: the frozen k=8 quantizer is the memoized fixed-point
    k-means, query-to-cell ranking uses the same integer distances
    with (d, cluster) tie-breaks, and only the final candidate cosine
    is IEEE double (the green embed_topk precedent). Scale shape: the
    corpus is assigned once (map-only, plan-literal centroids,
    localCheckpointed); per probe depth the candidate join reads
    ~|corpus| * n_probe / 8 rows via a broadcast cell equi-join into
    TakeOrdered — the full corpus is scanned once for the baseline and
    once for the assignment, never per probe depth."""
    e = _t(spark, sf_dir, "embeddings")
    cents = _kcents8(spark, sf_dir)
    assignments = (
        sim.assign_to_centroids(e, cents, carry=("embedding",))
        .select("vec_id", "cluster", "embedding")
        .localCheckpoint()  # consumed by all |_ANN_PROBES| probe joins
        # (embedding carried through the map-only assignment — the old
        # id equi-join back onto the corpus cost 1.85 s vs 0.34 s here)
    )
    q = e.filter(F.col("vec_id") < 5)
    full = (
        sim.brute_force_topk(e, q, k=10)
        .select("query_id", "match_id")
        .localCheckpoint()  # consumed by all recall joins
    )
    n_q = full.select("query_id").distinct().count()
    # ONE exact-cosine pass over the full-probe candidate set with the
    # probe depth attached (probe sets nest, so depth p is exactly the
    # prank <= p subset) — the old per-depth ivf_topk_from_assignments
    # calls re-read the index and re-scored sum(p)/max(p) = 15/8 of the
    # candidate space; per-depth top-k over the filtered subset is
    # bit-identical (same scores, same tie-break — pinned in
    # tests/test_similarity.py).
    scored = sim.ivf_probe_scored(assignments, cents, q).localCheckpoint()
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    per = []
    for p in _ANN_PROBES:
        t = (
            scored.filter(F.col("prank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "match_id")
        )
        per.append(
            t.join(full, ["query_id", "match_id"]).agg(
                F.lit(p).cast("long").alias("n_probe"),
                F.lit(n_q).cast("long").alias("n_queries"),
                F.count(F.lit(1)).cast("long").alias("n_hits"),
            )
        )
    out = per[0]
    for x in per[1:]:
        out = out.unionByName(x)
    return out.select(
        "n_probe",
        "n_queries",
        "n_hits",
        F.expr(_ANN_RECALL_PPM).alias("recall_ppm"),
    )


_KSWEEP_SLOTS = (2, 4, 8)
_KSWEEP_CUT = 750000  # ppm twin of the 0.75 near-dup cut


def _minhash_k_sweep_sql() -> str:
    k = dd.MINHASH_K
    chunks = dd.sql_shingle_hash_chunks("shingle", k)
    hash_cols = ", ".join(f"{c} AS h{i}" for i, c in enumerate(chunks))
    sig_cols = ", ".join(f"min(h{i}) AS sig{i}" for i in range(k))
    def agree(n):
        return " + ".join(
            f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
            for i in range(n)
        )
    sweep = "\nUNION ALL\n".join(
        f"SELECT {n} AS k_slots, CAST(a{n} * {1_000_000 // n} AS BIGINT)"
        f" AS est_ppm, jac_ppm FROM scored"
        for n in _KSWEEP_SLOTS
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT d1, d2,
         round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
  FROM inter
  JOIN shsize sa ON sa.doc_id = d1
  JOIN shsize sb ON sb.doc_id = d2
  WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.6),
shingle_hashes AS (
  SELECT shingle, {hash_cols} FROM (SELECT DISTINCT shingle FROM sh)),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM sh JOIN shingle_hashes USING (shingle) GROUP BY doc_id),
scored AS (
  SELECT {", ".join(f"CAST(({agree(n)}) AS BIGINT) AS a{n}" for n in _KSWEEP_SLOTS)},
         CAST(round(p.jaccard * 1000000) AS BIGINT) AS jac_ppm
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.d1
  JOIN sigs b ON b.doc_id = p.d2),
sweep AS ({sweep})
SELECT k_slots, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_ppm - jac_ppm)) AS BIGINT) // count(*)
         AS mean_abs_err_ppm,
       (CAST(sum(CASE WHEN est_ppm >= {_KSWEEP_CUT}
                       AND jac_ppm < {_KSWEEP_CUT} THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // count(*) AS false_accept_ppm,
       (CAST(sum(CASE WHEN est_ppm < {_KSWEEP_CUT}
                       AND jac_ppm >= {_KSWEEP_CUT} THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // count(*) AS false_reject_ppm
FROM sweep GROUP BY k_slots
"""


@_q("dedup_minhash_k_sweep", "pipeline", _minhash_k_sweep_sql())
def dedup_minhash_k_sweep(spark, sf_dir):
    """Signature-size ablation — the MinHash matryoshka: Jaccard
    estimates from the FIRST 2 / 4 / 8 slots of the same signature
    (min-hashes are i.i.d., so any prefix is a valid smaller sketch)
    scored against exact Jaccard on the exact pair set at the 0.6 cut:
    per K, mean absolute estimate error and the false-accept /
    false-reject rates against the 0.75 near-dup threshold. This is
    the table that prices signature WIDTH at 100 TB — K is a linear
    multiplier on signature storage, shuffle bytes, and band count, and
    the sd sqrt(J(1-J)/K) theory line becomes a measured error on THIS
    corpus (`dedup_minhash_estimator` fixes K=8 and sweeps bands; this
    sweeps K at the decision cut). Scale shape: the exact pair relation
    drives two equi-joins against the |docs|-row signature table (the
    estimator precedent); the 3-way K explode happens on the scored
    |pairs|-row relation map-side and folds to |K| rows."""
    k = dd.MINHASH_K
    d = _td(spark, sf_dir)
    # one shingle-assembly pass for the exact pipeline AND the
    # signature map (shingle_relation sharing)
    with_sh = dd.shingle_relation(d)
    pairs = dd.jaccard_pairs(d, 0.6, shingles_rel=with_sh)
    sigs = dd.minhash_signatures(
        d, shingles_rel=with_sh
    ).localCheckpoint()
    a = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(k)],
    )
    b = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(k)],
    )
    def agree(n):
        return sum(
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(n)
        )
    scored = (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            *[
                (agree(n) * F.lit(1_000_000 // n))
                .cast("long")
                .alias(f"est{n}")
                for n in _KSWEEP_SLOTS
            ],
            F.expr("CAST(round(jaccard * 1000000) AS BIGINT)").alias(
                "jac_ppm"
            ),
        )
    )
    sweep = scored.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("long").alias("k_slots"),
                        F.col(f"est{n}").alias("est_ppm"),
                    )
                    for n in _KSWEEP_SLOTS
                ]
            )
        ).alias("s"),
        "jac_ppm",
    ).select("s.k_slots", "s.est_ppm", "jac_ppm")
    cut = _KSWEEP_CUT
    return sweep.groupBy("k_slots").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(sum(abs(est_ppm - jac_ppm)) AS BIGINT) div count(*)"
        ).alias("mean_abs_err_ppm"),
        F.expr(
            f"(CAST(sum(CASE WHEN est_ppm >= {cut} AND jac_ppm < {cut}"
            " THEN 1 ELSE 0 END) AS BIGINT) * 1000000) div count(*)"
        ).alias("false_accept_ppm"),
        F.expr(
            f"(CAST(sum(CASE WHEN est_ppm < {cut} AND jac_ppm >= {cut}"
            " THEN 1 ELSE 0 END) AS BIGINT) * 1000000) div count(*)"
        ).alias("false_reject_ppm"),
    )


@_q("dedup_shingle_df_spectrum", "pipeline", _SHINGLE_DF_SQL)
def dedup_shingle_df_spectrum(spark, sf_dir):
    """Shingle document-frequency spectrum — the dedup JOIN-COST
    forecast, one funnel stage before `dedup_bucket_skew`: a naive
    shingle self-equi-join does sum_s C(df(s), 2) work, so per log2(df)
    bucket this prices the type count, the posting count, and the EXACT
    candidate-pair volume that join would generate, with each bucket's
    share of the total.  The tail bucket IS the hot-shingle cliff
    (one stopword shingle in 100k docs = 5e9 candidates) that
    `jaccard_pairs`' PPJoin prefix filter exists to dodge — a corpus
    whose top bucket carries most of the mass mandates prefix filtering
    before any exact dedup is launched.  Scale shape: one
    distinct-shingle explode into a combine-friendly groupBy (the
    shuffle carries |shingle vocab| rows after map-side combine), then
    the 62-compare ladder + pricing fold to the <=63-row bucket
    relation; the pair space is priced, never materialized."""
    d = _td(spark, sf_dir)
    df = (
        dd.exploded_shingles(d)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    return _shingle_df_finish(df)


@_q(
    "embed_dim_variance_spectrum",
    "pipeline",
    sim.sql_dim_variance_spectrum(),
)
def embed_dim_variance_spectrum(spark, sf_dir):
    """Per-dimension variance spectrum — prices BOTH index-truncation
    strategies before a narrow index is built: prefix_mass_ppm at row
    m-1 is the variance mass the first m dims keep (the matryoshka
    rung `embed_matryoshka_eval` then measures as recall), and
    ranked_mass_ppm is the best-r-dims upper bound the PCA rotation
    (`embed_pca_project`) chases; a prefix curve hugging the ranked
    curve says truncate without a rotation.  Exact fixed-point moments
    (the covariance discipline): integer numerators, integer windows on
    the |dim|-row relation, one IEEE division for the reported var_fp.
    Scale shape: one posexplode into a combine-friendly groupBy — the
    shuffle carries dim rows per partition after map-side combine,
    never O(rows)."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.dim_variance_spectrum(e)


_FUNNEL_TS = (0.6, 0.75, 0.9)
_FUNNEL_REDUCTION = (
    "CAST(floor(CAST(n_candidates AS DOUBLE) * 1000000"
    " / CAST(naive_pairs AS DOUBLE)) AS BIGINT)"
)
_FUNNEL_YIELD = (
    "CAST(floor(CAST(n_final AS DOUBLE) * 1000000"
    " / CAST(n_candidates AS DOUBLE)) AS BIGINT)"
)


def _funnel_tag_sql() -> str:
    """The largest threshold whose prefix still contains the row (prefixes
    shrink as t rises, so prefix(0.9) subset prefix(0.75) subset
    prefix(0.6)) — lets ONE self-join answer all three thresholds."""
    t_hi, t_mid, t_lo = _FUNNEL_TS[2], _FUNNEL_TS[1], _FUNNEL_TS[0]
    return (
        f"CASE WHEN rn <= n - ceil({t_hi} * n) + 1"
        f" THEN {int(t_hi * 1_000_000)}"
        f" WHEN rn <= n - ceil({t_mid} * n) + 1"
        f" THEN {int(t_mid * 1_000_000)}"
        f" ELSE {int(t_lo * 1_000_000)} END"
    )


def _funnel_cand_case(t: float) -> str:
    """Candidate-at-t predicate over the tagged pair relation: both
    endpoints in prefix(t) (pair_maxt covers it) AND the t length
    filter."""
    ppm = int(t * 1_000_000)
    return (
        f"CAST(sum(CASE WHEN pair_maxt >= {ppm}"
        f" AND nb >= ceil({t} * na) AND nb * {t} <= na"
        f" THEN 1 ELSE 0 END) AS BIGINT)"
    )


def _prefix_funnel_sql() -> str:
    t_lo = _FUNNEL_TS[0]
    cands = ", ".join(
        f"{_funnel_cand_case(t)} AS c{int(t * 100)}" for t in _FUNNEL_TS
    )
    fins = ", ".join(
        f"CAST(sum(CASE WHEN jaccard >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS f{int(t * 100)}"
        for t in _FUNNEL_TS
    )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({int(t * 1_000_000)} AS BIGINT) AS threshold_ppm,"
        f" naive_pairs, c{int(t * 100)} AS n_candidates,"
        f" f{int(t * 100)} AS n_final FROM one"
        for t in _FUNNEL_TS
    )
    return f"""
WITH {dd.sql_shingles_ctes()},
df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
naive AS (SELECT CAST(sum(df * (df - 1) // 2) AS BIGINT) AS naive_pairs
          FROM df),
r AS (SELECT s.doc_id, s.shingle,
        row_number() OVER (PARTITION BY s.doc_id
                           ORDER BY d.df, s.shingle) AS rn,
        z.n
      FROM sh s JOIN df d USING (shingle) JOIN shsize z USING (doc_id)),
pre AS (SELECT doc_id, shingle, n, {_funnel_tag_sql()} AS maxt
        FROM r WHERE rn <= n - ceil({t_lo} * n) + 1),
j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS na, b.n AS nb,
             max(least(a.maxt, b.maxt)) AS pair_maxt
      FROM pre a JOIN pre b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.n >= ceil({t_lo} * a.n) AND b.n * {t_lo} <= a.n
      GROUP BY 1, 2, 3, 4),
cand AS (SELECT {cands} FROM j),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
exact AS (SELECT round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
          FROM inter
          JOIN shsize sa ON sa.doc_id = d1
          JOIN shsize sb ON sb.doc_id = d2),
fin AS (SELECT {fins} FROM exact),
one AS (SELECT * FROM cand, fin, naive)
SELECT threshold_ppm, naive_pairs, n_candidates, n_final,
       CASE WHEN naive_pairs = 0 THEN CAST(0 AS BIGINT)
            ELSE {_FUNNEL_REDUCTION} END AS cand_reduction_ppm,
       CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
            ELSE {_FUNNEL_YIELD} END AS verify_yield_ppm
FROM ({union})
"""


@_q("dedup_prefix_filter_audit", "pipeline", _prefix_funnel_sql())
def dedup_prefix_filter_audit(spark, sf_dir):
    """PPJoin funnel conversion — measures what prefix filtering
    actually BUYS on this corpus, per threshold in {0.6, 0.75, 0.9}:
    the priced naive candidate volume sum C(df,2) (what
    `dedup_shingle_df_spectrum` forecasts), the candidates the prefix +
    length filters actually admit, the exact pairs that survive
    verification, and the two conversion rates (candidate reduction vs
    naive; verify yield per candidate).  This is the empirical form of
    the `jaccard_pairs` docstring's central claim — at 100 TB the
    reduction column is the difference between a feasible dedup job and
    a quadratic one, and a LOW verify yield at the operating threshold
    says raise the threshold or add banding before scaling up.  Same
    prefix rule as production (df-ascending order; the in-doc tiebreak
    is arbitrary under that rule — strings here, hashes in production —
    so candidate counts are representative while n_final is EXACTLY the
    production pair count).  Scale shape: prefixes NEST (prefix(0.9)
    subset prefix(0.75) subset prefix(0.6)), so each prefix row is
    tagged with the largest threshold that keeps it and ONE self-join
    at the loosest threshold answers all three — pair_maxt +
    per-threshold length predicates replace three joins; everything
    folds to one row before the 3-row explode."""
    d = _td(spark, sf_dir)
    sh = dd.exploded_shingles(d)
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    naive = F.broadcast(
        dfreq.agg(
            F.sum(F.expr("df * (df - 1) div 2"))
            .cast("long")
            .alias("naive_pairs")
        )
    )
    shsize = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("df", "shingle")
    t_lo = _FUNNEL_TS[0]
    pre = (
        sh.join(dfreq, "shingle")
        .join(shsize, "doc_id")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w_ord).alias("rn"),
            "n",
        )
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(t_lo) * F.col("n")) + 1
        )
        .withColumn("maxt", F.expr(_funnel_tag_sql()))
        .localCheckpoint()  # both join sides read it
    )
    a = pre.select(
        F.col("doc_id").alias("d1"),
        F.col("shingle").alias("s1"),
        F.col("n").alias("na"),
        F.col("maxt").alias("ta"),
    )
    b = pre.select(
        F.col("doc_id").alias("d2"),
        F.col("shingle").alias("s2"),
        F.col("n").alias("nb"),
        F.col("maxt").alias("tb"),
    )
    j = (
        a.join(b, F.col("s1") == F.col("s2"))
        .filter(
            (F.col("d1") < F.col("d2"))
            & (F.col("nb") >= F.ceil(F.lit(t_lo) * F.col("na")))
            & (F.col("nb") * F.lit(t_lo) <= F.col("na"))
        )
        .groupBy("d1", "d2", "na", "nb")
        .agg(F.max(F.least("ta", "tb")).alias("pair_maxt"))
    )
    cand = j.agg(
        *[
            F.expr(_funnel_cand_case(t)).alias(f"c{int(t * 100)}")
            for t in _FUNNEL_TS
        ]
    )
    pairs = dd.jaccard_pairs(d, t_lo)
    fin = pairs.agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN jaccard >= {t} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias(f"f{int(t * 100)}")
            for t in _FUNNEL_TS
        ]
    )
    one = cand.crossJoin(F.broadcast(fin)).crossJoin(naive)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(t * 1_000_000))
                        .cast("long")
                        .alias("threshold_ppm"),
                        F.col(f"c{int(t * 100)}").alias("n_candidates"),
                        F.col(f"f{int(t * 100)}").alias("n_final"),
                    )
                    for t in _FUNNEL_TS
                ]
            )
        ).alias("s"),
        "naive_pairs",
    ).select("s.threshold_ppm", "naive_pairs", "s.n_candidates", "s.n_final")
    return stacked.select(
        "threshold_ppm",
        "naive_pairs",
        "n_candidates",
        "n_final",
        F.expr(
            f"CASE WHEN naive_pairs = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE {_FUNNEL_REDUCTION} END"
        ).alias("cand_reduction_ppm"),
        F.expr(
            f"CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE {_FUNNEL_YIELD} END"
        ).alias("verify_yield_ppm"),
    )


@_q("embed_pq_distortion", "pipeline", sim.sql_pq_distortion())
def embed_pq_distortion(spark, sf_dir):
    """PQ quantization-loss audit — completes the ANN tuning tripod
    (`ivf_balance_audit` = probe cost, `embed_ann_recall_curve` = probe
    quality, this = code quality): per subspace, the exact integer
    squared reconstruction error (total / floor-mean / max) of the
    assignment the encoder actually makes, plus codebook utilization
    (live codewords out of ks).  At 100 TB this is what's checked
    BEFORE encoding the corpus: a subspace with outsized error or
    3-of-8 utilization says re-cut subspaces or raise ks while it costs
    a retrain, not a re-encode of the fleet.  One map-only corpus scan
    (codebooks as plan literals, m errors per row explode map-side to m
    rows); every cell is an exact int64."""
    e = _t(spark, sf_dir, "embeddings")
    # train the codebooks unconditionally (the bpe_train rule: the
    # declared audit prices the encoder's own books, trainer included)
    return sim.pq_distortion(
        e, books=sim.pq_codebooks(e, m=4, ks=8, iters=2)
    )


# Weighted-Jaccard verify constants (round 14).  Integer IDF proxy:
# a shingle in df documents weighs 1000000 div df — a singleton shingle
# weighs 1e6, a corpus-wide one ~0.  Threshold on the WEIGHTED score.
WJ_THRESHOLD_PPM = 500_000

_WJ_PPM = (
    "CAST(shared_w * 1000000 {div} (w1 + w2 - shared_w) AS BIGINT)"
)


def _weighted_jaccard_sql() -> str:
    return f"""
WITH {_minhash_cands_ctes()},
wdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
w AS (SELECT shingle, CAST(1000000 // df AS BIGINT) AS w FROM wdf),
dw AS (SELECT sh.doc_id, CAST(sum(w.w) AS BIGINT) AS wsum
       FROM sh JOIN w USING (shingle) GROUP BY 1),
shared AS (
  SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS n_shared,
         CAST(sum(w.w) AS BIGINT) AS shared_w
  FROM cands c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  JOIN w ON w.shingle = a.shingle
  GROUP BY 1, 2),
fin AS (
  SELECT s.d1, s.d2, n_shared, shared_w,
         wa.wsum AS w1, wb.wsum AS w2
  FROM shared s
  JOIN dw wa ON wa.doc_id = s.d1
  JOIN dw wb ON wb.doc_id = s.d2)
SELECT d1, d2, n_shared, shared_w, w1, w2,
       {_WJ_PPM.format(div='//')} AS wj_ppm
FROM fin WHERE {_WJ_PPM.format(div='//')} >= {WJ_THRESHOLD_PPM}
"""


@_q("dedup_weighted_jaccard", "pipeline", _weighted_jaccard_sql())
def dedup_weighted_jaccard(spark, sf_dir):
    """IDF-WEIGHTED Jaccard verification over the MinHash-LSH candidate
    pairs: shared RARE shingles count for more than shared boilerplate
    (weight = 1e6 div df, exact integers), which is the verdict plain
    Jaccard gets wrong on template-heavy corpora — two docs sharing a
    boilerplate header score high unweighted but near zero weighted,
    and two docs sharing one rare paragraph score the reverse.
    Candidates still come from the UNWEIGHTED MinHash banding (cheap,
    recall-bounded by the LSH curve); the weights change the verdict,
    not the candidate generation — so this composes with every LSH
    economics audit already in the catalog.  Scale shape: the df/weight
    table is one combine-friendly groupBy on the shingle vocabulary;
    the shared-weight join is CANDIDATE-bounded (cands -> d1 shingles
    -> d2 shingle match), never all-pairs; per-doc weight sums join
    back on the surviving-pair relation."""
    d = _td(spark, sf_dir)
    # hashed shingles (the `exploded_shingle_hashes` collision contract):
    # the df groupBy, the weight join and the candidate-bounded shared
    # join all ship 8-byte hashes instead of shingle strings.  NOT on the
    # shingle_relation sharing path: sharing means TWO checkpoints of
    # overlapping shingle data here (measured 2.09 -> 2.52 s at sf0.1),
    # since this entry needs the exploded-hash relation, not the arrays
    sh = dd.exploded_shingle_hashes(d).localCheckpoint()  # df + dw + pair sides
    cands = dd.lsh_candidate_pairs(dd.minhash_signatures(d))
    w = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .select("shingle", F.expr("1000000 div df").cast("long").alias("w"))
    )
    shw = sh.join(w, "shingle")
    dw = shw.groupBy("doc_id").agg(
        F.sum("w").cast("long").alias("wsum")
    )
    a = shw.select(
        F.col("doc_id").alias("sa"), "shingle", F.col("w").alias("wa")
    )
    b = sh.select(F.col("doc_id").alias("sb"), F.col("shingle").alias("sh_b"))
    shared = (
        cands.join(a, F.col("d1") == F.col("sa"))
        .join(
            b,
            (F.col("d2") == F.col("sb"))
            & (F.col("shingle") == F.col("sh_b")),
        )
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum("wa").cast("long").alias("shared_w"),
        )
    )
    w1 = dw.select(F.col("doc_id").alias("j1"), F.col("wsum").alias("w1"))
    w2 = dw.select(F.col("doc_id").alias("j2"), F.col("wsum").alias("w2"))
    fin = (
        shared.join(w1, F.col("d1") == F.col("j1"))
        .join(w2, F.col("d2") == F.col("j2"))
        .select("d1", "d2", "n_shared", "shared_w", "w1", "w2")
    )
    return fin.select(
        "d1",
        "d2",
        "n_shared",
        "shared_w",
        "w1",
        "w2",
        F.expr(_WJ_PPM.format(div="div")).alias("wj_ppm"),
    ).filter(F.col("wj_ppm") >= WJ_THRESHOLD_PPM)


@_q("dedup_winnow", "pipeline", _WINNOW_SQL)
def dedup_winnow(spark, sf_dir):
    """Winnowed-fingerprint copy detection (Schleimer/Wilkerson/Aiken's
    MOSS, the span-level complement to `dedup_ngram`'s word-Jaccard and
    `dedup_spans`' exact substrings): document pairs sharing >=
    WINNOW_MIN_SHARED winnowed fingerprints, with fingerprint-Jaccard
    sim_ppm.  The winnowing guarantee makes the audit sound — any
    shared run >= w+k-1 = 11 chars leaves a shared fingerprint — while
    selecting only ~2/(w+1) of the grams, so the posting list is
    sublinear in text bytes.  Scale shape: fingerprinting is per-doc
    array work (map-only, no Python); the adaptive df cap (MOSS's
    common-code elimination) drops boilerplate fingerprints BEFORE the
    pair join, bounding it at sum C(min(df,cap),2) — the same
    hot-key-exclusion economics `dedup_ngram`'s prefix filter buys; the
    per-doc totals join back on the bounded surviving-pair relation.
    Profile/finisher/oracle are shared with the standing twin
    `stream_winnow` (catalog/_shared.py)."""
    return _winnow_finish(_winnow_profile(_td(spark, sf_dir)))


# kNN-graph audit constants (round 14).
KNN_GRAPH_K = 5

_KNN_MEAN_OUT_X100 = (
    "CASE WHEN n_nodes = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(n_edges * 100 {div} n_nodes AS BIGINT) END"
)
_KNN_RECIP_PPM = (
    "CASE WHEN n_edges = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST(n_reciprocal * 1000000 {div} n_edges AS BIGINT) END"
)


def _knn_graph_sql() -> str:
    return f"""
WITH {sim.sql_knn_graph_edges(k=KNN_GRAPH_K)},
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM e),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
              CAST(count(DISTINCT d1) AS BIGINT) AS n_connected
       FROM edges),
rc AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
       FROM edges x JOIN edges y ON x.d1 = y.d2 AND x.d2 = y.d1),
ind AS (SELECT CAST(coalesce(max(c), 0) AS BIGINT) AS max_in_degree
        FROM (SELECT count(*) AS c FROM edges GROUP BY d2))
SELECT n_nodes, n_nodes - n_connected AS n_isolated, n_edges,
       n_reciprocal, max_in_degree,
       {_KNN_MEAN_OUT_X100.format(div='//')} AS mean_out_x100,
       {_KNN_RECIP_PPM.format(div='//')} AS reciprocity_ppm
FROM nn, st, rc, ind
"""


@_q("embed_knn_graph_audit", "pipeline", _knn_graph_sql())
def embed_knn_graph_audit(spark, sf_dir):
    """kNN-GRAPH health audit — the go/no-go read BEFORE building a
    graph ANN index (HNSW-family) or graph dedup (SemDeDup
    neighborhoods) over the corpus: isolated-node count (vectors the
    bucketing never pairs — they would be unreachable in the graph
    index), reciprocity (mutual-neighbor rate; low reciprocity means
    asymmetric neighborhoods and poor greedy-search convergence), and
    max in-degree (hub nodes that bloat every search path).  Edges come
    from `knn_graph_edges` — LSH bucket SELF-join candidates (no query
    broadcast; this is the form that survives when the query set IS the
    corpus), exact rounded-cosine rank <= k per node compiling to
    WindowGroupLimit.  Scale shape: candidate volume is sum over
    buckets of |bucket|^2, never n^2; every rollup below the edge
    relation is map-side combined; the reciprocity join runs on the
    k*n-bounded edge relation."""
    e = _t(spark, sf_dir, "embeddings")
    edges = sim.knn_graph_edges(e, k=KNN_GRAPH_K).localCheckpoint()
    nn = e.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    st = edges.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.countDistinct("d1").cast("long").alias("n_connected"),
    )
    er = edges.select(F.col("d1").alias("r1"), F.col("d2").alias("r2"))
    rc = (
        edges.join(
            er, (F.col("d1") == F.col("r2")) & (F.col("d2") == F.col("r1"))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    )
    ind = (
        edges.groupBy("d2")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(F.max("c"), F.lit(0))
            .cast("long")
            .alias("max_in_degree")
        )
    )
    return (
        nn.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(rc))
        .crossJoin(F.broadcast(ind))
        .select(
            "n_nodes",
            (F.col("n_nodes") - F.col("n_connected")).alias("n_isolated"),
            "n_edges",
            "n_reciprocal",
            "max_in_degree",
            F.expr(_KNN_MEAN_OUT_X100.format(div="div")).alias(
                "mean_out_x100"
            ),
            F.expr(_KNN_RECIP_PPM.format(div="div")).alias(
                "reciprocity_ppm"
            ),
        )
    )


def _train_ivfpq(e):
    """Train the coarse quantizer (k=8 / iters=2) and the PQ codebooks
    (m=4 / ks=8 / iters=2) for one corpus as CONCURRENT driver loops
    (guide §2.6: independent jobs submitted from two threads back-fill
    each other's stage tails).  Each trainer is the unchanged
    deterministic integer Lloyd fit — concurrency only overlaps their
    bounded collects, it cannot change either model."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(
            inheritable_thread_target(
                lambda: sim.kmeans_centroids(e, k=8, iters=2)
            )
        )
        fb = pool.submit(
            inheritable_thread_target(
                lambda: sim.pq_codebooks(e, m=4, ks=8, iters=2)
            )
        )
        return fc.result(), fb.result()


@_q("embed_ivfpq_topk", "pipeline", sim.sql_ivfpq_topk())
def embed_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (the FAISS IVFADC architecture assembled from the
    engine's own exact stages): coarse integer k-means routes vectors
    to inverted cells, PQ codes replace the floats, queries probe their
    2 nearest of 8 cells and score candidates by ADC lookup.  Both
    stages are the fixed-point machinery, so — unlike the numpy-coarse
    `embed_ann_ivf`, which is rows-only by design — this PARTIAL-probe
    composite is fully oracle-hashed, probe selection included: the one
    entry that certifies the assembled billion-vector serving layout
    end to end.  Scale shape: one map-only pass emits (cell, m codes)
    per vector — the only relation the query path scans; queries
    broadcast with in-plan LUTs + probe lists; candidate join is an
    equi-join on cell (|corpus| * n_probe / n_cells ADC lookups per
    query); top-k is the bounded per-query window."""
    e = _t(spark, sf_dir, "embeddings")
    # train BOTH stages unconditionally (bpe_train rule: the declared
    # composite is coarse-train + PQ-train + encode + probe; the two
    # trainers are independent driver loops, so they run as concurrent
    # jobs — guide §2.6 — and the wall cost is max, not sum)
    cents, books = _train_ivfpq(e)
    return sim.ivfpq_topk(
        e, e.filter(F.col("vec_id") < 5), cents=cents, books=books
    )


@_q("embed_ivfpq_materialized", "pipeline", sim.sql_ivfpq_topk())
def embed_ivfpq_materialized(spark, sf_dir):
    """`embed_ivfpq_topk` as a STANDING SERVICE — the complete FAISS-
    style serving deployment: the coarse centroids AND the PQ codebooks
    are trained once on the store's live corpus and frozen to model
    sidecars, the inverted file (vec_id -> cell) and the codes table
    (vec_id -> m codeword ids) are maintained by the row-wise IVM
    maintainers in a persistent service directory beside the store, and
    the PARTIAL-probe query path joins the two standing tables — query
    time never re-trains, never re-encodes, never touches a float
    vector.  Both assignments are the same exact integer argmin on both
    paths, so this is bit-identical to the recompute form (same
    oracle, probe selection included)."""
    import os

    from fluxdb_spark.streaming import retrieval as rt

    store = _mat_store_vecs(spark, sf_dir)
    svc = os.path.join(os.path.dirname(str(store.root)), "ivfpq_svc")
    cells_dest, codes_dest = (
        os.path.join(svc, "cells"),
        os.path.join(svc, "codes"),
    )
    cents = rt.load_centroids(cells_dest)
    books = rt.load_pq_books(codes_dest)
    if cents is None or books is None:
        live = rt.lww_latest(
            rt.vector_relation(store.changelog()), ["vec_id"]
        ).select("vec_id", "embedding")
        cents = sim.kmeans_centroids(live, k=8, iters=2)
        books = sim.pq_codebooks(live, m=4, ks=8, iters=2)
        rt.save_centroids(cells_dest, cents)
        rt.save_pq_books(codes_dest, books)
    # one catch-up pass for both standing tables; their independent
    # transform+write jobs overlap (refresh_many)
    rt.refresh_many(
        spark,
        str(store.root),
        [
            (cells_dest, rt.centroid_assign_transform(cents)),
            (codes_dest, rt.pq_codes_transform(books)),
        ],
    )
    cells = rt.lww_latest(
        rt.read_derived(spark, cells_dest), ["vec_id"]
    ).select("vec_id", "cluster")
    codes = rt.lww_latest(
        rt.read_derived(spark, codes_dest), ["vec_id"]
    ).select("vec_id", "codes")
    e = _t(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk_from_tables(
        cells, codes, cents, books, e.filter(F.col("vec_id") < 5)
    ).localCheckpoint()


_MIPS_SCALE = 1_000_000
MIPS_K = 10


def _mips_sql(k: int = MIPS_K, dim: int = 64, n_queries: int = 5) -> str:
    return f"""
WITH mq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_MIPS_SCALE}) AS BIGINT))
           AS q
  FROM embeddings),
qs AS (SELECT vec_id AS query_id, q AS qq FROM mq
       WHERE vec_id < {n_queries}),
scored AS (
  SELECT qs.query_id, c.vec_id AS match_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
                                      i -> qs.qq[i] * c.q[i]))
              AS BIGINT) AS ip
  FROM qs, mq c WHERE c.vec_id <> qs.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY ip DESC, match_id ASC) AS rn
  FROM scored)
SELECT query_id, match_id, ip, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {k}
"""


@_q("embed_mips_topk", "pipeline", _mips_sql())
def embed_mips_topk(spark, sf_dir):
    """Maximum-INNER-PRODUCT search (MIPS) — the retrieval objective of
    recommender and two-tower ranking models, where vector NORM carries
    signal (a popular item's long embedding should outrank a niche
    near-parallel one), so cosine top-k (`embed_topk`) is the WRONG
    operator and this is its unnormalized sibling.  Scores are exact
    integer dot products over the fixed-point-quantized vectors — no
    float summation order, no rounding gotcha, ranks hash-match the
    oracle bit-for-bit.  Scale shape: queries broadcast with their
    quantized arrays in-plan; one map-only corpus scan scores
    |corpus| x |queries| pairs JVM-side; per-query top-k is the bounded
    window.  At 100 TB the corpus side reduces to any of the shipped
    ANN ladders via the standard MIPS->cosine norm-augmentation
    (append sqrt(M^2-|x|^2) to corpus vectors, 0 to queries), which
    this exact form is the verification oracle for."""
    e = _t(spark, sf_dir, "embeddings")
    c = spread(e).select(
        F.col("vec_id").alias("match_id"),
        sim._quantize(F.col("embedding"), _MIPS_SCALE).alias("cq"),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        sim._quantize(F.col("embedding"), _MIPS_SCALE).alias("qq"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn(
            "ip",
            F.aggregate(
                F.zip_with(
                    F.col("cq"), F.col("qq"), lambda x, y: x * y
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("match_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MIPS_K)
        .select("query_id", "match_id", "ip", "rank")
    )


PHRASE_TOP = 3


def _phrase_search_sql(top: int = PHRASE_TOP) -> str:
    return f"""
WITH ptoks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
               FROM documents),
post AS (SELECT doc_id, i AS pos, t[i] AS term
         FROM ptoks, UNNEST(range(1, len(t) + 1)) AS u(i)),
big AS (SELECT a.doc_id, concat(a.term, ' ', b.term) AS phrase
        FROM post a JOIN post b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
cnt AS (SELECT phrase, count(*) AS c FROM big GROUP BY 1),
top3 AS (SELECT phrase FROM (
           SELECT phrase,
                  row_number() OVER (ORDER BY c DESC, phrase ASC) AS rn
           FROM cnt) WHERE rn <= {top})
SELECT big.phrase, big.doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM big JOIN top3 USING (phrase)
GROUP BY 1, 2
"""


@_q("phrase_search_postings", "pipeline", _phrase_search_sql())
def phrase_search_postings(spark, sf_dir):
    """Exact PHRASE search through a positional postings index — the
    Lucene-family architecture re-expressed relationally: the corpus is
    one (doc, position, term) postings relation, and a phrase query is
    an equi-join of its terms' postings on (doc, pos+1) adjacency —
    never a substring scan of the text.  The entry indexes the corpus,
    takes its top-3 bigram phrases (frequency desc, phrase asc —
    deterministic), and answers all of them through the postings join,
    returning per-doc match counts.  Scale shape: the postings relation
    partitions by doc_id and the adjacency self-join is co-partitioned
    on it (one shuffle that every phrase query amortizes); the phrase
    pick is TakeOrdered over the bounded distinct-bigram relation, and
    the final rollup folds map-side.  (Corpus-wide bigram STATISTICS
    have a cheaper map-side form — `collocations`' array-zip — but an
    ad-hoc phrase query against standing postings is exactly this
    join.)"""
    d = _td(spark, sf_dir)
    post = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "pos", "term"
        ),
    ).localCheckpoint()  # both sides of the adjacency join read it
    a = post.select(
        "doc_id", F.col("pos").alias("p1"), F.col("term").alias("t1")
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("p2"),
        F.col("term").alias("t2"),
    )
    big = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("p2") == F.col("p1") + 1),
    ).select(
        "doc_id", F.concat(F.col("t1"), F.lit(" "), F.col("t2")).alias("phrase")
    ).localCheckpoint()  # phrase pick + final rollup read it
    top = (
        big.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("phrase"))
        .limit(PHRASE_TOP)
        .select("phrase")
    )
    return (
        big.join(F.broadcast(top), "phrase")
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
