"""Text analysis over `documents` (SURVEY §2.3 LLM block): quality
scoring, language ID, token counting, fingerprinting, tf-idf.

All hot-path expressions are built-in column functions (codegen'd);
nothing here drops to Python per row. Word-level stats go through
split/explode — one narrow stage plus one groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

#: tiny function-word lists for the n-gram/stopword language heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit"],
    "fr": ["le", "la", "les", "de", "et", "est", "dans"],
}
_STOPWORDS = _LANG_MARKERS["en"]


def _words(c: Column) -> Column:
    return F.split(F.trim(F.lower(c)), " ")


@register(
    "q_text_stats",
    oracle="""
    SELECT doc_id, lang,
           LENGTH(text) AS n_chars_actual,
           CAST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS INTEGER) AS n_words,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS INTEGER)
               AS n_unique_words,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS avg_word_len,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
                                w -> LIST_CONTAINS(['the','and','of','to','a','in','is'], w)))
                AS DOUBLE)
             / LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS stopword_ratio
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: char/word/unique-word counts, mean
    word length, stopword ratio — the standard quality-filter features."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        n_words.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_unique_words"),
        # RAW int-ratio doubles: chars/words and stops/words are one
        # identically-written IEEE division of exact ints on both
        # engines — bit-equal. ROUND(x, 4) would ADD the
        # rendering-vs-binary divergence for word counts like 160
        # (ratio decimal terminating in 5 just past 4 dp — the
        # measured 333/640 class), so no round.
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_words
        ).alias("avg_word_len"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
    )


@register(
    "q_text_quality",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS n_words,
               CAST(LEN(LIST_DISTINCT(STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS DOUBLE)
                   / LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS uniq_ratio
        FROM documents
    )
    SELECT doc_id,
           CAST(ROUND((CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END)
                 + (CASE WHEN uniq_ratio >= 0.3 THEN 0.5 ELSE 0.0 END), 2) AS DOUBLE) AS quality,
           (n_words BETWEEN 20 AND 1000 AND uniq_ratio >= 0.3) AS keep
    FROM feats
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length band + lexical diversity) and the
    keep/drop verdict — the Gopher-style rule-based quality gate shape."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words)
    uniq_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    len_ok = n_words.between(20, 1000)
    uniq_ok = uniq_ratio >= 0.3
    return d.select(
        "doc_id",
        F.round(
            F.when(len_ok, 0.5).otherwise(0.0) + F.when(uniq_ok, 0.5).otherwise(0.0), 2
        ).alias("quality"),
        (len_ok & uniq_ok).alias("keep"),
    )


def _marker_score(words: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


_LANGID_ORACLE = """
WITH scored AS (
    SELECT doc_id, lang AS labeled_lang,
           LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
                           w -> LIST_CONTAINS(['the','and','of','to','a','in','is'], w))) AS s_en,
           LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
                           w -> LIST_CONTAINS(['el','la','de','que','y','en','los'], w))) AS s_es,
           LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
                           w -> LIST_CONTAINS(['der','die','und','das','ist','von','mit'], w))) AS s_de,
           LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
                           w -> LIST_CONTAINS(['le','la','les','de','et','est','dans'], w))) AS s_fr
    FROM documents
)
SELECT doc_id, labeled_lang,
       CAST(s_en AS INTEGER) AS s_en, CAST(s_es AS INTEGER) AS s_es,
       CAST(s_de AS INTEGER) AS s_de, CAST(s_fr AS INTEGER) AS s_fr,
       CASE
         WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         WHEN s_de >= s_fr THEN 'de'
         ELSE 'fr'
       END AS predicted_lang
FROM scored
"""


@register("q_text_langid", oracle=_LANGID_ORACLE)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word language-ID heuristic: score each language's marker
    list, argmax with a fixed priority order for ties (en > es > de > fr)
    — same deterministic cascade in the oracle."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    s = {lang: _marker_score(words, lang) for lang in _LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en"
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s["en"].alias("s_en"),
        s["es"].alias("s_es"),
        s["de"].alias("s_de"),
        s["fr"].alias("s_fr"),
        predicted.alias("predicted_lang"),
    )


@register(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+')) AS INTEGER) AS re_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS bpe_estimate
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, regex word tokens,
    and the chars/4 BPE-scale estimate used for budget accounting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)).alias(
            "re_tokens"
        ),
        F.ceil(F.length("text") / 4.0).alias("bpe_estimate"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(text) AS md5_fp,
           SHA256(text) AS sha256_fp,
           MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               STRING_SPLIT(TRIM(LOWER(text)), ' '))), ' ')) AS bow_fp
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hashes (md5/sha256) plus an
    order-insensitive bag-of-words fingerprint (sorted unique words →
    md5) that survives word reordering — the cheap first-pass dedup key."""
    d = load(spark, sf_dir, "documents")
    sorted_words = F.sort_array(F.array_distinct(_words(F.col("text"))))
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_fp"),
        F.sha2("text", 256).alias("sha256_fp"),
        F.md5(F.concat_ws(" ", sorted_words)).alias("bow_fp"),
    )


#: chunking geometry: 40-word windows advancing 30 words (10-word overlap)
_CHUNK, _STRIDE = 40, 30


@register(
    "q_text_chunk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ws,
               LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS n
        FROM documents
    )
    SELECT doc_id, CAST(t.i AS INTEGER) AS chunk_id,
           ARRAY_TO_STRING(ws[t.i*{_STRIDE}+1 : t.i*{_STRIDE}+{_CHUNK}], ' ') AS chunk_text,
           CAST(LEN(ws[t.i*{_STRIDE}+1 : t.i*{_STRIDE}+{_CHUNK}]) AS INTEGER) AS n_chunk_words
    FROM w, UNNEST(RANGE(0,
        CASE WHEN n <= {_CHUNK} THEN 1
             ELSE CAST(CEIL((n - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1 END)) AS t(i)
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-window-bounded training: overlapping
    40-word windows with stride 30. One narrow stage — sequence() builds
    the start offsets, posexplode fans out chunks, slice/concat_ws
    materializes each window; no shuffle at all, so at 100 TB this is a
    pure map over the scan and parallelism = input splits."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    n_chunks = (
        F.when(n <= _CHUNK, F.lit(1))
        .otherwise(F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))) + 1)
        .cast("int")
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * _STRIDE, F.lit(_STRIDE))
    return (
        d.select("doc_id", words.alias("ws"), F.posexplode(starts).alias("chunk_id", "start"))
        .withColumn("ws", F.slice(F.col("ws"), F.col("start") + 1, _CHUNK))
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(" ", "ws").alias("chunk_text"),
            F.size("ws").alias("n_chunk_words"),
        )
    )


#: any token containing a digit — the stand-in PII shape for the synthetic
#: corpus (ids, phone-ish strings); same leftmost-greedy match in Java
#: regex (Spark) and RE2 (DuckDB)
_REDACT_PAT = "[a-z]*[0-9][a-z0-9]*"


@register(
    "q_text_redact",
    oracle=f"""
    SELECT doc_id,
           REGEXP_REPLACE(text, '{_REDACT_PAT}', '<ID>', 'g') AS redacted_text,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_REDACT_PAT}')) AS INTEGER) AS n_redacted,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_REDACT_PAT}')) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS redact_ratio
    FROM documents
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: every digit-bearing token is replaced with a
    sentinel, plus the per-doc redaction count/ratio for audit. Pure
    regexp_replace/regexp_extract_all — codegen'd, shuffle-free; swap the
    pattern for email/phone/SSN regexes on a real corpus."""
    d = load(spark, sf_dir, "documents")
    n_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(_REDACT_PAT), 0))
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("text"), _REDACT_PAT, "<ID>").alias("redacted_text"),
        n_hits.alias("n_redacted"),
        # RAW int-ratio double (hash-safe identical bits; ROUND would
        # add the 333/640 rendering divergence)
        (
            n_hits.cast("double") / F.size(F.split(F.col("text"), " "))
        ).alias("redact_ratio"),
    )


@register(
    "q_text_repetition",
    oracle="""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT doc_id, word, COUNT(*) AS cnt
        FROM (SELECT doc_id, UNNEST(ws) AS word FROM w)
        GROUP BY doc_id, word
    ),
    uni_doc AS (
        SELECT doc_id, SUM(cnt) AS total_words,
               COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0) AS dup_words
        FROM uni GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id, bigram, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                     UNNEST(LIST_TRANSFORM(
                         RANGE(0, GREATEST(LEN(ws) - 2, 0) + 1),
                         i -> ARRAY_TO_STRING(ws[i+1:i+2], ' '))) AS bigram
              FROM w)
        GROUP BY doc_id, bigram
    ),
    bg_doc AS (
        SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_bg FROM bg GROUP BY doc_id
    )
    SELECT u.doc_id,
           CAST(u.dup_words AS DOUBLE) / u.total_words AS dup_word_frac,
           CAST(b.top_cnt AS DOUBLE) / b.total_bg AS top_bigram_frac,
           (CAST(u.dup_words AS DOUBLE) / u.total_words <= 0.5
            AND CAST(b.top_cnt AS DOUBLE) / b.total_bg <= 0.2) AS keep
    FROM uni_doc u JOIN bg_doc b ON u.doc_id = b.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: fraction of words that belong to
    repeated types (dup_word_frac) and the share of bigram mass captured
    by the single most frequent bigram (top_bigram_frac), gated into a
    keep verdict. Two explode→groupBy passes keyed on doc_id, joined —
    both aggregations combine map-side, so the shuffle carries one row
    per (doc, gram), never the raw text."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    # unigram pass
    uni = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("total_words"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
            ).alias("dup_words"),
        )
    )
    # bigram pass: zip each word with its successor (same zero-UDF shifted-
    # zip construction as dedup._shingles, k=2)
    bigrams = F.slice(
        F.zip_with(
            words,
            F.slice(words, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        1,
        F.greatest(n - 1, F.lit(1)),
    )
    bg = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"), F.sum("cnt").alias("total_bg"))
    )
    dup_frac = F.col("dup_words").cast("double") / F.col("total_words")
    top_frac = F.col("top_cnt").cast("double") / F.col("total_bg")
    return uni.join(bg, "doc_id").select(
        "doc_id",
        # RAW int-ratio doubles (hash-safe identical bits; ROUND would
        # add the 333/640 rendering divergence)
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_bigram_frac"),
        ((dup_frac <= 0.5) & (top_frac <= 0.2)).alias("keep"),
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND(tf.tf * (LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word AS top_word, tfidf AS top_tfidf
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) = 1
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-DataFrame tf-idf (smooth idf), reporting each document's top
    term. Unlike MLlib's HashingTF (feature-hashed, unreadable), this
    keeps real terms and is exactly reproducible in SQL. Two shuffles:
    (doc,word) counts, then the doc-frequency join keyed on word."""
    d = load(spark, sf_dir, "documents")
    # N as a broadcast 1-row join, not a driver-side count(): keeps the
    # whole query one job and N out of the driver
    n_docs_df = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # tf feeds both the df aggregate and the scoring join; no cache
    # needed — Spark's ReusedExchange serves the second consumer from
    # the first shuffle's output (verified: caching changes nothing)
    tf = (
        d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # tf⨝df stays a shuffle join: vocabulary is unbounded at scale, so df
    # must not be broadcast (AQE will still broadcast it when it's small)
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    # top-1 per doc as a hash aggregate, not a window rank: min_by over
    # the ordering key (-tfidf, word) ≡ highest tfidf then smallest word,
    # with map-side partial combine — the shuffle moves one row per doc
    # instead of the whole scored relation into a sort
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("word", "tfidf"),
                F.struct((-F.col("tfidf")).alias("nt"), F.col("word").alias("w")),
            ).alias("r")
        )
        .select("doc_id", F.col("r.word").alias("top_word"), F.col("r.tfidf").alias("top_tfidf"))
    )


@register(
    "q_text_clean",
    oracle="""
    WITH c AS (
        SELECT doc_id, text,
               TRIM(REGEXP_REPLACE(
                   REGEXP_REPLACE(text, '[^\\x20-\\x7e]', ' ', 'g'),
                   ' {2,}', ' ', 'g')) AS clean_text
        FROM documents
    )
    SELECT doc_id, clean_text,
           LENGTH(text) AS len_raw,
           LENGTH(clean_text) AS len_clean,
           (clean_text <> text) AS was_dirty
    FROM c
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for training corpora: non-printable /
    non-ASCII bytes become spaces, runs of whitespace collapse, edges
    trim — with a was_dirty audit flag and before/after lengths so the
    cleaning rate is measurable. Pure codegen'd regexp_replace (RE2 and
    Java agree on \\x escapes and greedy quantifiers; the oracle passes
    'g' because DuckDB replaces first-match by default while Spark
    replaces all). Narrow, shuffle-free map over the corpus."""
    d = load(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[^\\x20-\\x7e]", " "), " {2,}", " "
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.length("text").alias("len_raw"),
        F.length(clean).alias("len_clean"),
        (clean != F.col("text")).alias("was_dirty"),
    )


@register(
    "q_text_url_extract",
    oracle="""
    WITH u AS (
        SELECT doc_id, lang,
               'https://' || source || '.example.com/docs/' ||
               CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
        FROM documents
    )
    SELECT doc_id, url,
           REGEXP_EXTRACT(url, '^https://([^/]+)(/[^?]*)\\?lang=(.*)$', 1) AS host,
           REGEXP_EXTRACT(url, '^https://([^/]+)(/[^?]*)\\?lang=(.*)$', 2) AS path,
           REGEXP_EXTRACT(url, '^https://([^/]+)(/[^?]*)\\?lang=(.*)$', 3) AS lang_param
    FROM u
    WHERE REGEXP_EXTRACT(url, '^https://([^/]+)(/[^?]*)\\?lang=(.*)$', 1)
          NOT IN ('src0.example.com', 'src13.example.com')
    """,
)
def q_text_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-provenance handling: documents carry a source URL
    (synthesized deterministically here from the fixture's source id);
    host / path / query-param are extracted with one anchored regex and
    blocklisted domains are dropped — the domain-filter step every
    web-scale corpus pipeline runs before training. regexp_extract has
    the same (str, pattern, group) signature and RE2-compatible
    semantics in both engines, so the op is fully oracle-checked; the
    blocklist is a literal IN-list (broadcast at scale). Narrow map +
    filter: no shuffle, pushes behind column pruning."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    pat = "^https://([^/]+)(/[^?]*)\\?lang=(.*)$"
    host = F.regexp_extract(url, pat, 1)
    return (
        d.select(
            "doc_id",
            url.alias("url"),
            host.alias("host"),
            F.regexp_extract(url, pat, 2).alias("path"),
            F.regexp_extract(url, pat, 3).alias("lang_param"),
        )
        .filter(~F.col("host").isin("src0.example.com", "src13.example.com"))
    )


@register(
    "q_text_pmi",
    oracle="""
    WITH wds AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS w,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    bi AS (
        SELECT w1, w2, COUNT(*) AS c_ab FROM (
            SELECT w AS w1,
                   LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM wds
        ) WHERE w2 IS NOT NULL GROUP BY w1, w2
    ),
    uni AS (SELECT w, COUNT(*) AS c FROM wds GROUP BY w),
    tot AS (SELECT (SELECT SUM(c) FROM uni) AS tu,
                   (SELECT SUM(c_ab) FROM bi) AS tb)
    SELECT b.w1, b.w2, b.c_ab,
           ROUND(LN((b.c_ab / t.tb) /
                    ((u1.c / t.tu) * (u2.c / t.tu))), 4) AS pmi
    FROM bi b
    CROSS JOIN tot t
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w
    ORDER BY b.c_ab DESC, b.w1, b.w2
    LIMIT 50
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent word
    pairs across the corpus — the classic phrase-detection pass (e.g.
    word2vec phrase merging) a training-data pipeline runs before
    tokenizer training. Bigrams are built narrowly inside each row with
    zip_with over two array slices (no per-token shuffle; the only wide
    ops are the two count aggregations), the two scalar totals are
    broadcast into the final join (unigram counts join by shuffle —
    vocabulary-sized, AQE broadcasts when small), and top-50 by raw
    pair count is a TakeOrderedAndProject. PMI = ln(p(ab)/(p(a)p(b)))
    computed in the same expression shape on both engines so the 4-dp
    round absorbs only last-ulp ln() differences. Oracle builds the
    identical bigrams via LEAD over ordinal-unnested tokens."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    bi = (
        d.withColumn("ws", words)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),"
                    " (a, b) -> named_struct('w1', a, 'w2', b))"
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (
        d.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("tu")).crossJoin(
        bi.agg(F.sum("c_ab").alias("tb"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    # unigram joins stay shuffle joins: u1/u2 are VOCABULARY-sized
    # (unbounded at 100 TB — billions of distinct tokens), so pinning
    # F.broadcast on them is an executor OOM at scale; AQE still
    # broadcasts them at runtime whenever the vocab is actually small
    # (same policy as q_text_tfidf's df join). Only the 2-scalar totals
    # row keeps the pinned broadcast.
    return (
        bi.crossJoin(F.broadcast(tot))
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("tb"))
                    / ((F.col("c1") / F.col("tu")) * (F.col("c2") / F.col("tu")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("c_ab").desc(), "w1", "w2")
        .limit(50)
    )


@register(
    "q_text_entropy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
        FROM documents
    ),
    cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
    agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_unique,
               CAST(SUM(CAST(ROUND(c * (LN(c) / LN(2.0)) * 1000000.0)
                             AS BIGINT)) AS BIGINT) AS clg_e6,
               CAST(ROUND(LN(CAST(SUM(c) AS BIGINT)) / LN(2.0) * 1000000.0)
                    AS BIGINT) AS lg_e6
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_unique,
           (lg_e6 - clg_e6 / n_words) / 1000000.0 AS entropy,
           ((lg_e6 - clg_e6 / n_words) / 1000000.0
            < 0.6 * (lg_e6 / 1000000.0)) AS low_entropy
    FROM agg
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-unigram Shannon entropy — the information-
    density quality signal (degenerate/boilerplate/spam docs score far
    below natural text; the flag marks docs under 60% of their own
    maximum possible entropy log2(n_words), a length-normalized gate).

    Uses the count-only identity H = log2(N) - Σ c·log2(c) / N so the
    whole metric is two hash aggregates over the exploded token stream
    — both map-side combinable, no windows, no per-doc collect. At
    100 TB the token explode is the dominant cost and it is a narrow
    per-row generator feeding partial aggregation in the same stage.

    Bit-parity discipline (q_win_time_weighted's r3 lesson applied
    preemptively): Σ c·log2(c) over raw doubles is summation-order-
    dependent, so each term is rounded ONCE to integer nano-units
    (identical IEEE product, half-away round on both engines) and the
    sum is exact; the entropy double is then derived from exact
    integers by an identically-written op chain — the q_vec_centroid
    shape the driver has already graded green. Two measured cross-engine
    log facts force the exact formulation: (a) Spark's `log2` IS
    ln(x)/ln(2) while DuckDB's `LOG2` is correctly rounded (differ for
    76 of the first 200 ints), so the ratio is written explicitly on
    both sides; (b) even then, JVM fdlibm `ln` and libm `ln` differ by
    1 ulp for some inputs (48.0, measured), so NO log-derived double is
    bit-identical cross-engine — every log term is therefore rounded to
    integer MICRO-units (1e6, coarse enough that the ulp-scale noise
    sits ~9 orders of magnitude below the rounding step) and the
    entropy is derived from exact integers by identical single ops."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ln2 = F.log(F.lit(2.0))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(
            F.round(
                F.col("c") * (F.log("c") / ln2) * 1000000.0, 0
            ).cast("long")
        ).alias("clg_e6"),
        F.round((F.log(F.sum("c")) / ln2) * 1000000.0, 0)
        .cast("long")
        .alias("lg_e6"),
    )
    h = (
        F.col("lg_e6") - F.col("clg_e6") / F.col("n_words")
    ) / 1000000.0
    return agg.select(
        "doc_id",
        "n_words",
        "n_unique",
        h.alias("entropy"),
        (h < 0.6 * (F.col("lg_e6") / 1000000.0)).alias("low_entropy"),
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
        FROM documents
    ),
    lm AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM lm)
    SELECT t.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(CAST(ROUND(-(LN((lm.c + 1.0) / (tot.n + tot.v)) / LN(2.0))
                               * 1000000.0) AS BIGINT)) AS BIGINT)
             / 1000000.0 / COUNT(*) AS cross_entropy
    FROM tok t JOIN lm ON t.w = lm.w CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy against the corpus unigram language
    model (add-one smoothed) — the model-free stand-in for the
    perplexity filter LLM pipelines run: documents whose vocabulary is
    atypical for the corpus score high and get routed to review.
    Complements `q_text_entropy` (within-doc diversity) by measuring
    *typicality* instead.

    Scale shape: the LM is a word-count aggregate; the scoring join is
    token-stream ⨝ dictionary on the word key — the dictionary is
    bounded by vocabulary (not corpus) size, so AQE broadcasts it
    whenever it is actually small (never pinned — vocabulary is still
    unbounded in the worst case, same policy as q_text_pmi/tfidf). One
    explode feeds both the LM build and the scoring pass, and Spark
    serves the second consumer from the first shuffle's output
    (ReusedExchange, as in q_text_tfidf).
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
    lm = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        tok.join(lm, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            # nano-unit integer terms: AVG over raw double nll is
            # summation-order-dependent (the q_win_time_weighted r3
            # failure class); round each term once, sum exactly, derive
            # the mean from exact integers (q_vec_centroid discipline)
            # ln-ratio in MICRO-units, not log2 in nano-units: Spark
            # log2 IS ln(x)/ln(2) while DuckDB LOG2 is correctly
            # rounded, and even ln differs by 1 ulp across fdlibm/libm
            # — coarse units keep that noise ~9 orders below the
            # rounding step (see q_text_entropy)
            F.round(
                -(
                    F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
                    / F.log(F.lit(2.0))
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("nll_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        (
            F.sum("nll_e6") / 1000000.0 / F.count(F.lit(1))
        ).alias("cross_entropy"),
    )


#: BM25 probe query — terms chosen from the fixture vocabulary. The
#: k1=1.2 / b=0.75 defaults appear as LITERALS in both the Spark
#: expression and the oracle SQL (1.2, 2.2 = k1+1, 0.25 = 1-b, 0.75):
#: the two texts must stay digit-identical for bit parity, so a shared
#: constant would only protect one side.
BM25_QUERY = ["spark", "join", "window"]


@register(
    "q_text_bm25",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
        FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
    g AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM dl),
    tf AS (
        SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok WHERE word IN ('spark', 'join', 'window')
        GROUP BY doc_id, word
    ),
    idf AS (
        SELECT word,
               CAST(ROUND(LN((g.n_docs - COUNT(DISTINCT doc_id) + 0.5)
                             / (COUNT(DISTINCT doc_id) + 0.5) + 1.0)
                          * 1000000.0) AS BIGINT) AS idf_u
        FROM tf CROSS JOIN g
        GROUP BY word, g.n_docs
    ),
    scored AS (
        SELECT tf.doc_id,
               CAST(ROUND(idf.idf_u * (tf.tf * 2.2
                          / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / g.avgdl)))))
                    AS BIGINT) AS term_score_u
        FROM tf JOIN idf USING (word) JOIN dl USING (doc_id) CROSS JOIN g
    )
    SELECT doc_id, CAST(SUM(term_score_u) AS BIGINT) AS bm25_e6
    FROM scored GROUP BY doc_id
    ORDER BY bm25_e6 DESC, doc_id LIMIT 20
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 ranking of `documents` for a fixed probe query —
    the retrieval scorer a training-data pipeline uses for quality
    classification and eval-set mining (tf-idf's saturating,
    length-normalized successor).

    Float discipline (the r1-r3 driver-fail class): the only
    non-portable step is LN (1-ulp across JVM/libm), so each term's IDF
    is rounded ONCE to integer micro-units; the tf/length factor is a
    chain of identically-written IEEE ops on integer-derived operands
    (bit-identical on both engines); their product is rounded at scale
    0 (portable) and summed exactly as BIGINT. Ranking and tie-break
    (score desc, doc_id) are integer-deterministic.

    100 TB story: one explode→groupBy for tf (map-side combinable), the
    probe-term filter prunes the shuffle to query-term rows only; dl is
    a second combinable aggregate of the same explode; N/avgdl and the
    per-term IDFs are 1-row/|query|-row broadcasts — no driver
    collect(), no full-vocab join (contrast q_text_tfidf, which must
    score every word). Top-20 is a TakeOrdered, not a global sort."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_words(F.col("text"))).alias("word"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    g = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tf = (
        tok.filter(F.col("word").isin(BM25_QUERY))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.crossJoin(F.broadcast(g.select("n_docs")))
        .groupBy("word", "n_docs")
        .agg(F.count_distinct("doc_id").alias("df"))
        .select(
            "word",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("idf_u"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf_u")
                * (
                    F.col("tf") * 2.2
                    / (
                        F.col("tf")
                        + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.col("avgdl")))
                    )
                ),
                0,
            )
            .cast("long")
            .alias("term_score_u"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score_u").alias("bm25_e6"))
        .orderBy(F.col("bm25_e6").desc(), "doc_id")
        .limit(20)
    )


#: top-R word ranks fitted for the Zipf slope
ZIPF_R = 200


@register(
    "q_text_zipf",
    oracle=f"""
    WITH counts AS (
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    ranked AS (
        SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk, cnt
        FROM counts
        ORDER BY cnt DESC, word LIMIT {ZIPF_R}
    ),
    pts AS (
        SELECT CAST(ROUND(LN(rnk) * 1000000.0) AS BIGINT) AS x_u,
               CAST(ROUND(LN(cnt) * 1000000.0) AS BIGINT) AS y_u
        FROM ranked
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS r,
               CAST(SUM(x_u) AS BIGINT) AS sx, CAST(SUM(y_u) AS BIGINT) AS sy,
               CAST(SUM(x_u * y_u) AS BIGINT) AS sxy,
               CAST(SUM(x_u * x_u) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT r AS n_words,
           (r * sxy - sx * sy) / CAST(r * sxx - sx * sx AS DOUBLE) AS zipf_slope,
           (sy - (r * sxy - sx * sy) / CAST(r * sxx - sx * sx AS DOUBLE) * sx)
               / (r * 1000000.0) AS intercept_ln
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary — the corpus-health
    diagnostic an LM data pipeline logs per source/snapshot (natural
    text fits slope ≈ −1; templated or deduplicated-to-death corpora
    drift away). OLS of ln(count) on ln(rank) over the top-200 ranks
    (the fixture's synthetic ~31-word vocabulary fits a shallow −0.18 —
    itself the kind of anomaly this metric exists to flag).

    Float discipline: LN is the only non-portable step (1 ulp across
    libm/JVM), so both coordinates are rounded ONCE to integer
    micro-units; every OLS sum is then an exact BIGINT, and slope /
    intercept are single identically-written integer-ratio chains —
    hash-safe raw doubles (q_text_repetition discipline). Scale shape:
    one explode→groupBy for counts (map-side combinable), TakeOrdered
    top-200, and a 200-row local fit — the corpus never shuffles."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(ZIPF_R)
    )
    ranked = counts.select(
        F.row_number()
        .over(W.orderBy(F.desc("cnt"), "word"))
        .alias("rnk"),
        "cnt",
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000000.0, 0)
        .cast("long")
        .alias("x_u"),
        F.round(F.log(F.col("cnt").cast("double")) * 1000000.0, 0)
        .cast("long")
        .alias("y_u"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("r"),
        F.sum("x_u").alias("sx"),
        F.sum("y_u").alias("sy"),
        F.sum(F.col("x_u") * F.col("y_u")).alias("sxy"),
        F.sum(F.col("x_u") * F.col("x_u")).alias("sxx"),
    )
    slope = (F.col("r") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("r") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return s.select(
        F.col("r").alias("n_words"),
        slope.alias("zipf_slope"),
        (
            (F.col("sy") - slope * F.col("sx"))
            / (F.col("r") * 1000000.0)
        ).alias("intercept_ln"),
    )


_BOILER_K = 3  #: boilerplate shingle width (words; 3 keeps the df
#: distribution non-degenerate on the fixture corpus — 5-grams are
#: near-unique at every SF, so the threshold branch would never run

_BOILER_ORACLE = f"""
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - {_BOILER_K}, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+{_BOILER_K}], ' ')
                   ))) AS shingle
        FROM documents
    ),
    gdf AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS gdf
            FROM shingled GROUP BY shingle),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN g.gdf >= 4 AND g.gdf * 200 >= n.n_docs
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CAST(ROUND(SUM(CASE WHEN g.gdf >= 4 AND g.gdf * 200 >= n.n_docs
                              THEN 1 ELSE 0 END) * 1000000.0 / COUNT(*))
                AS BIGINT) AS boiler_ppm,
           SUM(CASE WHEN g.gdf >= 4 AND g.gdf * 200 >= n.n_docs
                    THEN 1 ELSE 0 END) * 10 < COUNT(*) AS keep
    FROM shingled s JOIN gdf g USING (shingle) CROSS JOIN n
    GROUP BY s.doc_id
"""


@register("q_text_boilerplate", oracle=_BOILER_ORACLE)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate pruning (the n-gram analog of
    CCNet/RefinedWeb repeated-paragraph removal, Penedo et al. 2023):
    a distinct 3-word shingle occurring in ≥ max(4, 0.5% · N_docs)
    documents is template/boilerplate text, and each document is scored
    by its boilerplate-gram fraction — docs over 10% get keep = false
    (templated spam/mirror pages, the corpus-cleaning cut upstream of
    dedup).

    Scale shape: gram document-frequency is a WINDOW count over the
    shingle key — one shuffle of the gram table and no separate
    distinct-gram build or df join; the per-doc rollup is a second
    hash aggregate. The threshold compares exact integers on both
    engines (df·200 ≥ N ⟺ df ≥ 0.5%·N) — RELATIVE, so it holds at
    100 TB where any absolute df cutoff saturates; N_docs rides along
    as a broadcast scalar. boiler_ppm is scale-0 ROUND of an
    identically derived int ratio (the portable class); keep is the
    exact integer comparison n_boiler·10 < n_grams."""
    from .dedup import _shingles

    d = load(spark, sf_dir, "documents")
    sh = _shingles(d, _BOILER_K)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    marked = sh.withColumn(
        "gdf", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    )
    is_boiler = (F.col("gdf") >= 4) & (F.col("gdf") * 200 >= F.col("n_docs"))
    return (
        marked.crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(is_boiler, 1).otherwise(0)).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            F.round(F.col("n_boiler") * 1000000.0 / F.col("n_grams"), 0)
            .cast("long")
            .alias("boiler_ppm"),
            (F.col("n_boiler") * 10 < F.col("n_grams")).alias("keep"),
        )
    )


@register(
    "q_text_perplexity_bigram",
    oracle="""
    WITH wds AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(TRIM(LOWER(text)), ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, w AS w1,
                   LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM wds
        ) WHERE w2 IS NOT NULL
    ),
    lm2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    lm1 AS (SELECT w, COUNT(*) AS c1 FROM wds GROUP BY w),
    voc AS (SELECT COUNT(*) AS v FROM lm1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(ROUND(-(LN((l2.c2 + 1.0) / (l1.c1 + voc.v))
                                  / LN(2.0)) * 1000000.0) AS BIGINT))
                AS BIGINT) / 1000000.0 / COUNT(*) AS cross_entropy2
    FROM bg b
    JOIN lm2 l2 ON b.w1 = l2.w1 AND b.w2 = l2.w2
    JOIN lm1 l1 ON b.w1 = l1.w
    CROSS JOIN voc
    GROUP BY b.doc_id
    """,
)
def q_text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy against a corpus BIGRAM language model
    (add-one smoothed conditional p(w2|w1) = (c2+1)/(c1+V)) — the
    KenLM-style perplexity filter (CCNet, Wenzek et al. 2020) one order
    up from `q_text_perplexity`'s unigram typicality: it also penalizes
    improbable word ORDER, not just improbable vocabulary, so shuffled
    or machine-mangled text scores high even when its unigram profile
    is normal.

    Scale shape (plans/r14/q_text_perplexity_bigram_after.txt): ONE
    explode emits each doc's bigrams PLUS a pseudo-row (last token,
    NULL) — every token instance is either some bigram's w1 or the
    doc's last token, so unigram counts c1 and the vocabulary size V
    come from the same exploded relation with no separate token
    explode. Keys collapse to xxhash64 longs before any shuffle (the
    q_text_novelty/dedup-family convention; collision odds
    ~pairs/2^64). c2 is a hash aggregate per (w1h, w2h), c1 a second
    aggregate of c2 per w1h, and V a count of c1's rows. Each bigram
    instance then takes two hash joins (c2 on (w1h, w2h), c1 on w1h;
    both broadcast in the sf0.1 plan) and a broadcast cross join with
    V, and the per-doc rollup is one final aggregate. No windows and no checkpoint: the plan re-reads
    the documents scan once per consumer.
    Float parity: each -ln-ratio term is rounded once to integer
    MICRO-units (coarse ≫ the 1-ulp ln() divergence across
    libm/fdlibm), summed exactly as BIGINT, and the mean is derived
    from exact integers — the q_text_perplexity discipline."""
    d = load(spark, sf_dir, "documents")
    t = (
        d.withColumn("ws", _words(F.col("text")))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "concat("
                    "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),"
                    " (a, b) -> named_struct('w1', a, 'w2', b)),"
                    " array(named_struct('w1', element_at(ws, -1),"
                    "                    'w2', CAST(NULL AS STRING))))"
                )
            ).alias("b"),
        )
        .select(
            "doc_id",
            F.xxhash64("b.w1").alias("w1h"),
            # xxhash64(NULL) would return the seed, not NULL — keep the
            # pseudo-row marker nullable
            F.when(F.col("b.w2").isNotNull(), F.xxhash64("b.w2")).alias("w2h"),
        )
    )
    lm2p = t.groupBy("w1h", "w2h").agg(F.count(F.lit(1)).alias("c2"))
    lm1 = lm2p.groupBy("w1h").agg(F.sum("c2").alias("c1"))
    voc = lm1.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        t.filter(F.col("w2h").isNotNull())
        .join(lm2p.filter(F.col("w2h").isNotNull()), ["w1h", "w2h"])
        .join(lm1, "w1h")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            F.round(
                -(
                    F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
                    / F.log(F.lit(2.0))
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("nll_e6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("nll_e6") / 1000000.0 / F.count(F.lit(1))
        ).alias("cross_entropy2"),
    )


@register(
    "q_text_novelty",
    oracle="""
    WITH shingled AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(
                   LIST_TRANSFORM(
                       RANGE(0, GREATEST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) - 3, 0) + 1),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(LOWER(text)), ' ')[i+1:i+3], ' ')
                   ))) AS shingle
        FROM documents
    ),
    df AS (SELECT shingle, COUNT(*) AS df FROM shingled GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(ROUND(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000.0
                      / COUNT(*)) AS BIGINT) AS novelty_ppm
    FROM shingled s JOIN df d USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram NOVELTY score per document — the share of a
    doc's distinct 3-word shingles that occur in NO other document
    (document frequency 1), the "creativity index" shape (Lu et al.
    2024, public literature) used to find template/boilerplate-heavy
    docs (low novelty) vs genuinely fresh text (high novelty) before
    training. Complements `q_text_repetition` (INTRA-doc duplication)
    with the CROSS-doc axis, without materializing any pair.

    Scale shape: reuses the cached corpus shingle table
    (`dedup._shared_shingles`), collapses shingles to 64-bit xxhash64
    keys before the two shuffles (df-count groupBy and the join back),
    so all wide stages move 8-byte longs — the same trick as the
    production jaccard op; the collision argument is documented there
    (dedup.py q_dedup_ngram_jaccard). No broadcast of anything
    data-sized; per-doc aggregation is a plain map-side-combinable
    count. All-integer emissions (ppm is a scale-0 ROUND of an
    int-ratio double)."""
    from .dedup import _shared_shingles

    d = load(spark, sf_dir, "documents")
    sh = _shared_shingles(spark, sf_dir, d).select(
        "doc_id", F.xxhash64("shingle").alias("k")
    )
    # (r13 optimization round) a df=1 shingle has exactly ONE owner —
    # min(doc_id) inside the df aggregation itself — so the unique
    # counts roll up from the (already tiny) df-1 slice directly and
    # the former join of the FULL shingle stream back onto df_counts
    # (a second stream-wide shuffle) disappears; only the two doc-sized
    # per-doc tables meet at the end.
    per_sh = sh.groupBy("k").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner")
    )
    uniq_per_doc = (
        per_sh.filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    n_unique = F.coalesce(F.col("n_unique"), F.lit(0))
    return (
        sizes.join(uniq_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_unique.cast("long").alias("n_unique"),
            F.round(n_unique * 1000000.0 / F.col("n_shingles"), 0)
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_quality_gopher",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               TRIM(LOWER(text)) AS norm,
               STRING_SPLIT(TRIM(LOWER(text)), ' ') AS words
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               CAST(LEN(words) AS INTEGER) AS n_words,
               CAST(ROUND(LENGTH(REPLACE(norm, ' ', '')) * 1000.0
                          / LEN(words)) AS BIGINT) AS mean_wlen_milli,
               CAST(ROUND(LEN(LIST_FILTER(words,
                          w -> REGEXP_FULL_MATCH(w, '[a-z]+'))) * 1000.0
                          / LEN(words)) AS BIGINT) AS alpha_milli,
               CAST(LEN(LIST_FILTER(words,
                    w -> LIST_CONTAINS(['the','and','of','to','a','in','is'], w)))
                    AS INTEGER) AS stop_hits,
               CAST((LENGTH(norm) - LENGTH(REPLACE(norm, '#', '')))
                    + (LENGTH(norm) - LENGTH(REPLACE(norm, '...', ''))) / 3
                    AS BIGINT) AS sym_count
        FROM m
    )
    SELECT doc_id, n_words, mean_wlen_milli, alpha_milli, stop_hits,
           CAST(  CASE WHEN n_words BETWEEN 20 AND 500 THEN 1 ELSE 0 END
                + CASE WHEN mean_wlen_milli BETWEEN 3000 AND 10000 THEN 2 ELSE 0 END
                + CASE WHEN alpha_milli >= 800 THEN 4 ELSE 0 END
                + CASE WHEN stop_hits >= 2 THEN 8 ELSE 0 END
                + CASE WHEN sym_count * 10 < n_words THEN 16 ELSE 0 END
             AS INTEGER) AS rules,
           (n_words BETWEEN 20 AND 500)
             AND mean_wlen_milli BETWEEN 3000 AND 10000
             AND alpha_milli >= 800 AND stop_hits >= 2
             AND sym_count * 10 < n_words AS keep
    FROM c
    ORDER BY doc_id
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 Table A1,
    public literature) as a PER-RULE BITMASK, not just a verdict: word
    count band, mean-word-length band, alphabetic-word ratio, required
    stopwords, symbol ratio — each rule is one bit, so a corpus owner
    can ask "which rule kills my docs" with one groupBy on `rules`
    (the full-cascade sibling of `q_text_quality`'s 2-rule score;
    bounds adapted to the fixture corpus' 10-99-word docs).

    Exactness: every rule compares INTEGERS — ratios are pre-rounded
    to milli-units (scale-0 ROUND of int-ratio doubles, portable) and
    the symbol rule is the cross-multiplied `sym*10 < n_words`, so no
    float threshold ever decides a bit. One narrow projection, no
    shuffle at all (groupBy-free): the plan is a single codegen'd scan
    stage."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.lower(F.col("text")))
    words = F.split(norm, " ")
    n_words = F.size(words)
    chars = F.length(F.translate(norm, " ", ""))
    mean_wlen = F.round(chars * 1000.0 / n_words, 0).cast("long")
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("^[a-z]+$")))
    alpha = F.round(n_alpha * 1000.0 / n_words, 0).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    stops = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    sym = (
        (F.length(norm) - F.length(F.translate(norm, "#", "")))
        + (F.length(norm) - F.length(F.regexp_replace(norm, r"\.\.\.", ""))) / 3
    ).cast("long")
    c = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen_milli"),
        alpha.alias("alpha_milli"),
        stops.alias("stop_hits"),
        sym.alias("sym_count"),
    )
    r_len = F.col("n_words").between(20, 500)
    r_wlen = F.col("mean_wlen_milli").between(3000, 10000)
    r_alpha = F.col("alpha_milli") >= 800
    r_stop = F.col("stop_hits") >= 2
    r_sym = F.col("sym_count") * 10 < F.col("n_words")
    bit = lambda cond, w: F.when(cond, w).otherwise(0)  # noqa: E731
    return c.select(
        "doc_id",
        "n_words",
        "mean_wlen_milli",
        "alpha_milli",
        "stop_hits",
        (
            bit(r_len, 1) + bit(r_wlen, 2) + bit(r_alpha, 4)
            + bit(r_stop, 8) + bit(r_sym, 16)
        ).cast("int").alias("rules"),
        (r_len & r_wlen & r_alpha & r_stop & r_sym).alias("keep"),
    ).orderBy("doc_id")


@register(
    "q_text_rake",
    oracle=r"""
    WITH seg AS (
        SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '\b(?:a|the)\b')) AS s
        FROM documents
    ),
    ph AS (
        SELECT TRIM(REGEXP_REPLACE(s, '\s+', ' ', 'g')) AS p FROM seg
    ),
    pw AS (
        SELECT UNNEST(STR_SPLIT(p, ' ')) AS word,
               LEN(STR_SPLIT(p, ' ')) AS plen
        FROM ph WHERE p <> ''
    ),
    sc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree
        FROM pw GROUP BY word
    )
    SELECT word, freq, degree, degree * 1000000 // freq AS score_micro
    FROM sc ORDER BY score_micro DESC, freq DESC, word LIMIT 25
    """,
)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE KEYWORD EXTRACTION (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free word runs (split on the
    fixture's function words 'a'/'the' at word boundaries), each word
    scores freq = phrase-occurrence count and degree = Σ length of the
    phrases it appears in, and the RAKE score degree/freq favors words
    that co-occur inside long phrases — the classic cheap keyword
    extractor corpus pipelines run where TF-IDF needs a second corpus
    pass. Dataflow: one regexp split per document (no Python), explode
    to phrase segments, squish+trim, explode to words carrying the
    phrase length, then a single hash aggregation keyed on word —
    map-side combinable, one shuffle, and the word-boundary regex
    behaves identically in Java regex and RE2 so the split is fully
    oracle-checkable. Score emitted as integer micro-units via BIGINT
    floor division (the 1000000 DIV idiom — hash-portable, no float
    division anywhere). Top-25 with the deterministic
    (score, freq, word) tiebreak. Reference analog: none —
    target-only capability."""
    d = load(spark, sf_dir, "documents")
    seg = d.select(
        F.explode(F.split(F.col("text"), r"\b(?:a|the)\b")).alias("s")
    )
    ph = seg.select(
        F.trim(F.regexp_replace(F.col("s"), r"\s+", " ")).alias("p")
    ).filter(F.col("p") != "")
    pw = ph.select(
        F.explode(F.split(F.col("p"), " ")).alias("word"),
        F.size(F.split(F.col("p"), " ")).alias("plen"),
    )
    sc = pw.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    return (
        sc.select(
            "word", "freq", "degree",
            F.expr("(degree * 1000000) DIV freq").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.desc("freq"), "word")
        .limit(25)
    )


_HH_SHARDS = 32
_HH_LOCAL_M = 200
_HH_K = 10


def exact_topk_candidate_prune(partial, k: int, m: int):
    """Exact top-k from per-shard partial counts via the THRESHOLD
    (TPUT, Cao & Fang 2004) candidate-prune: take each shard's local
    top-m as candidates and recount only those, then CERTIFY the prune
    with the upper bound U = sum over shards of the m-th largest local
    count — a non-candidate is outside every shard's top-m, so its
    global count is <= U. If U < the k-th candidate count the pruned
    result is provably the exact top-k (final exchange carries at most
    shards x m rows instead of the full vocabulary); otherwise fall
    back to the exact full aggregation of the same partials (no second
    corpus scan either way). Returns (result_df, certified: bool).

    ``partial`` must have columns (shard, item, pc)."""
    rk = F.row_number().over(
        W.partitionBy("shard").orderBy(F.desc("pc"), "item")
    )
    # (r13 optimization round) rank-filter FIRST, derive everything
    # from the ≤ shards×m survivors: with the rk <= m filter directly
    # above the window, Spark plans a WindowGroupLimit (per-partition
    # top-m heap) instead of fully sorting every shard's whole
    # vocabulary slice — and U, which previously aggregated the FULL
    # ranked table (forcing the complete window sort the cands path
    # had avoided), now reads its per-shard m-th counts off the same
    # tiny table. topm is checkpointed: three consumers, shards×m rows.
    topm = (
        partial.withColumn("rk", rk).filter(F.col("rk") <= m).localCheckpoint()
    )
    cands = topm.select("item").distinct()
    cand_counts = (
        partial.join(cands, "item", "left_semi")
        .groupBy("item")
        .agg(F.sum("pc").alias("cnt"))
        .localCheckpoint()
    )
    # U: each shard contributes its m-th largest local count (0 when the
    # shard holds fewer than m items — then nothing was pruned there).
    # One driver round trip fetches BOTH certificate scalars (the two
    # 1-row aggregates cross-joined) instead of two sequential jobs.
    u_df = topm.filter(F.col("rk") == m).agg(
        F.coalesce(F.sum("pc"), F.lit(0)).alias("u")
    )
    t_df = (
        cand_counts.orderBy(F.desc("cnt"), "item").limit(k)
        .agg(F.min("cnt").alias("t"))
    )
    u, t = u_df.crossJoin(t_df).collect()[0]
    u = u or 0
    t = t or 0
    if u < t:
        return cand_counts.orderBy(F.desc("cnt"), "item").limit(k), True
    # Uncertified (flat distribution): exact fallback over the SAME
    # partials — still no second scan, just a vocabulary-sized exchange.
    full = partial.groupBy("item").agg(F.sum("pc").alias("cnt"))
    return full.orderBy(F.desc("cnt"), "item").limit(k), False


@register(
    "q_agg_heavy_hitters",
    oracle="""
    WITH wds AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS w,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    tg AS (
        SELECT w || ' ' || w2 || ' ' || w3 AS trigram FROM (
            SELECT w,
                   LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                   LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
            FROM wds
        ) WHERE w2 IS NOT NULL AND w3 IS NOT NULL
    )
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tg GROUP BY trigram
    ORDER BY cnt DESC, trigram
    LIMIT 10
    """,
)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT TOP-K HEAVY HITTERS over corpus trigrams with a CERTIFIED
    candidate prune (TPUT threshold algorithm, Cao & Fang 2004): one
    corpus scan builds per-shard partial counts; each shard's local
    top-m become candidates and only they are re-aggregated — the
    final exchange carries at most shards x m rows instead of the
    unbounded trigram vocabulary, which is the difference that matters
    at 100 TB. The prune is not a heuristic: U = sum over shards of
    the m-th largest local count upper-bounds every non-candidate's
    global count, so U < (k-th candidate count) CERTIFIES the pruned
    answer exact; when the certificate fails (this fixture's trigram
    distribution is deliberately flat — ties at the cut, measured
    U=32 vs t=7 at sf0.001) the operator falls back to the exact
    full aggregation of the SAME partials, so the emitted counts are
    exact either way and the oracle is the plain global top-10. The
    certified branch is exercised by the skewed-input unit test
    (tests/test_plans.py::test_heavy_hitters_certificate). Trigrams
    are built row-locally with nested zip_with over three array
    slices — no per-token shuffle, no Python. Reference analog: none —
    target-only capability."""
    d = load(spark, sf_dir, "documents")
    tg = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            (F.col("doc_id") % _HH_SHARDS).alias("shard"),
            F.explode(
                F.expr(
                    "zip_with(zip_with(slice(ws, 1, size(ws)-2),"
                    " slice(ws, 2, size(ws)-2), (a, b) -> concat(a, ' ', b)),"
                    " slice(ws, 3, size(ws)-2),"
                    " (ab, c) -> concat(ab, ' ', c))"
                )
            ).alias("item"),
        )
    )
    partial = tg.groupBy("shard", "item").agg(
        F.count(F.lit(1)).alias("pc")
    ).localCheckpoint()
    result, _certified = exact_topk_candidate_prune(
        partial, k=_HH_K, m=_HH_LOCAL_M
    )
    return result.select(F.col("item").alias("trigram"), "cnt")


@register(
    "q_text_dechunk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ws,
               LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(t.i AS INTEGER) AS chunk_id,
               ws[t.i*{_STRIDE}+1 : t.i*{_STRIDE}+{_CHUNK}] AS cw
        FROM w, UNNEST(RANGE(0,
            CASE WHEN n <= {_CHUNK} THEN 1
                 ELSE CAST(CEIL((n - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1
            END)) AS t(i)
    ),
    contrib AS (
        SELECT doc_id, chunk_id,
               CASE WHEN chunk_id = 0 THEN ARRAY_TO_STRING(cw, ' ')
                    ELSE ARRAY_TO_STRING(cw[{_CHUNK - _STRIDE + 1}:], ' ')
               END AS piece
        FROM chunks
    ),
    rebuilt AS (
        SELECT doc_id,
               STRING_AGG(piece, ' ' ORDER BY chunk_id) AS joined,
               CAST(COUNT(*) AS BIGINT) AS n_chunks
        FROM contrib WHERE piece <> '' GROUP BY doc_id
    )
    SELECT r.doc_id, r.n_chunks,
           r.joined = TRIM(LOWER(d.text)) AS roundtrip_ok
    FROM rebuilt r JOIN documents d ON r.doc_id = d.doc_id
    ORDER BY r.doc_id
    """,
)
def q_text_dechunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK REASSEMBLY — the inverse of q_text_chunk and the proof of
    its overlap bookkeeping: rebuild each document from its overlapping
    40/30 chunk stream by taking chunk 0 whole and, for every later
    chunk, only the words past the {_CHUNK - _STRIDE}-word overlap,
    then verify the reconstruction equals the normalized original.
    This is the round-trip a sequence-packing pipeline owes its users:
    chunking must be lossless up to normalization or training data
    silently duplicates/drops overlap windows. Dataflow: the chunk
    fan-out is the same narrow posexplode map as q_text_chunk; the
    inverse is ONE hash aggregation per document — collect_list of
    (chunk_id, piece) structs, array_sort (order-insensitive to shuffle
    arrival, the standard distributed reassembly idiom), then
    array_join — followed by a key join back to the original text for
    the equality verdict. Emissions: doc_id, n_chunks, roundtrip_ok
    (TRUE for every fixture doc). Reference analog: none — target-only
    capability."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n = F.size(words)
    n_chunks = (
        F.when(n <= _CHUNK, F.lit(1))
        .otherwise(F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))) + 1)
        .cast("int")
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * _STRIDE, F.lit(_STRIDE))
    chunks = (
        d.select(
            "doc_id",
            words.alias("ws"),
            F.posexplode(starts).alias("chunk_id", "start"),
        )
        .withColumn("cw", F.slice(F.col("ws"), F.col("start") + 1, _CHUNK))
        .select(
            "doc_id",
            "chunk_id",
            F.when(
                F.col("chunk_id") == 0, F.concat_ws(" ", "cw")
            ).otherwise(
                F.concat_ws(
                    " ",
                    F.expr(f"slice(cw, {_CHUNK - _STRIDE + 1}, {_STRIDE})"),
                )
            ).alias("piece"),
        )
        .filter(F.col("piece") != "")
    )
    rebuilt = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "piece"))
                ),
                lambda s: s.piece,
            ),
            " ",
        ).alias("joined"),
    )
    orig = d.select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("norm_text")
    )
    return (
        rebuilt.join(orig, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            (F.col("joined") == F.col("norm_text")).alias("roundtrip_ok"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_langid_eval",
    oracle=f"""
    WITH p AS ({_LANGID_ORACLE}
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER (
               PARTITION BY labeled_lang) AS BIGINT) AS row_share_ppm
    FROM p
    GROUP BY labeled_lang, predicted_lang
    ORDER BY labeled_lang, predicted_lang
    """,
)
def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX for the q_text_langid heuristic against the
    fixture's ground-truth language labels — the eval every classifier
    in a data pipeline owes its users before its predictions gate
    anything (here: which rows a lang filter would mis-route). Rows
    are (true label, predicted) with exact counts and the per-true-row
    share in exact ppm (integer division over the row total — a window
    over the tiny confusion table, not the corpus). Dataflow: the
    classifier is the registered scoring cascade (shared code path, so
    the eval grades EXACTLY what production runs), one hash
    aggregation to <= |langs|^2 rows. The oracle composes the
    registered langid oracle verbatim for the same
    same-code-both-sides property. Reference analog: none —
    target-only capability."""
    preds = q_text_langid(spark, sf_dir)
    conf = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        conf.select(
            "labeled_lang", "predicted_lang", "n",
            F.expr(
                "n * 1000000 DIV sum(n) OVER (PARTITION BY labeled_lang)"
            ).alias("row_share_ppm"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


@register(
    "q_text_autocomplete",
    oracle="""
    WITH w AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    wc AS (
        SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word
    ),
    pref AS (
        SELECT SUBSTRING(word, 1, CAST(p.l AS INTEGER)) AS prefix,
               word, n
        FROM wc, RANGE(1, 5) AS p(l)
        WHERE LENGTH(word) >= p.l
    ),
    ranked AS (
        SELECT prefix, word, CAST(n AS BIGINT) AS n,
               ROW_NUMBER() OVER (
                   PARTITION BY prefix ORDER BY n DESC, word) AS rk
        FROM pref
    )
    SELECT prefix, word, n, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY prefix, rk
    """,
)
def q_text_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCOMPLETE PREFIX INDEX build — the top-3 completions per 1-4
    character prefix by corpus frequency, the offline artifact behind
    every search-box suggestion service. Scale design: frequencies
    aggregate FIRST (one hash agg over the token stream — the shuffle
    carries the vocabulary, with map-side combine), then prefixes
    explode from the already-tiny (word, count) table — never from the
    corpus (4 prefix rows per DISTINCT word, not per token), and the
    per-prefix top-3 compiles to WindowGroupLimit (per-partition heap,
    only candidate rows cross the rank shuffle). All-integer counts,
    deterministic (count DESC, word) tiebreak. Reference analog: none
    — target-only capability."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pref = wc.select(
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("l"),
        "word", "n",
    ).filter(F.length("word") >= F.col("l")).select(
        F.expr("substring(word, 1, l)").alias("prefix"), "word", "n"
    )
    rk = F.row_number().over(
        W.partitionBy("prefix").orderBy(F.desc("n"), "word")
    )
    return (
        pref.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("prefix", "word", F.col("n").cast("long").alias("n"),
                F.col("rk").cast("long").alias("rk"))
        .orderBy("prefix", "rk")
    )


@register(
    "q_text_hapax",
    oracle="""
    WITH w AS (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word
        FROM documents
    ),
    wc AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n
        FROM w WHERE word <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS hapax_ppm,
           CAST(COUNT(*) * 1000000 // SUM(n) AS BIGINT) AS ttr_ppm
    FROM wc GROUP BY source ORDER BY source
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA / TYPE-TOKEN profile per source — the vocabulary-
    growth diagnostics (Heaps-law inputs) a corpus audit reports:
    token count, vocabulary size, hapax count (words seen exactly
    once — the OCR-garbage and long-tail indicator; a crawl slice
    whose hapax share spikes is full of mangled tokens), hapax share
    and type-token ratio in exact ppm. The fixture's closed 31-word
    vocabulary drives hapax to ~0 — the honest reading for synthetic
    text, and exactly the signal shape the audit exists to flag in
    reverse. Two chained hash aggregations ((source, word), then
    source) — both map-side combinable; the shuffle carries the
    per-source vocabulary, never the token stream. All-integer.
    Reference analog: none — target-only capability."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
        )
        .select(
            "source", "n_tokens", "vocab", "hapax",
            F.expr("hapax * 1000000 DIV vocab").alias("hapax_ppm"),
            F.expr("vocab * 1000000 DIV n_tokens").alias("ttr_ppm"),
        )
        .orderBy("source")
    )


@register(
    "q_text_burstiness",
    oracle="""
    WITH w AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
        FROM documents
    ),
    per_doc AS (
        SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM w WHERE word <> '' GROUP BY 1, 2
    ),
    agg AS (
        SELECT word,
               CAST(SUM(n) AS BIGINT) AS cf,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM per_doc GROUP BY word
    )
    SELECT word, cf, df,
           CAST(cf * 1000000 // df AS BIGINT) AS burst_micro
    FROM agg
    ORDER BY burst_micro DESC, cf DESC, word
    LIMIT 25
    """,
)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD BURSTINESS (Church & Gale: mean occurrences per CONTAINING
    document, cf/df) — the corpus-linguistics stat that separates
    topical words (bursty: absent from most docs, repeated where
    present) from function words (cf tracks df): the signal behind
    df-based stop-listing and the q_dedup_ngram_jaccard df-ordered
    prefix filter. Exact integers: collection frequency and document
    frequency from two chained hash aggregations ((word, doc) then
    word — the shuffle carries per-doc distinct words, never the raw
    token stream), burstiness in exact micro via integer division,
    deterministic (burst, cf, word) top-25. Reference analog: none —
    target-only capability."""
    d = load(spark, sf_dir, "documents")
    per_doc = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = per_doc.groupBy("word").agg(
        F.sum("n").alias("cf"),
        F.count(F.lit(1)).alias("df"),
    )
    return (
        agg.select(
            "word", "cf", "df",
            F.expr("cf * 1000000 DIV df").alias("burst_micro"),
        )
        .orderBy(F.desc("burst_micro"), F.desc("cf"), "word")
        .limit(25)
    )


@register(
    "q_text_readability",
    oracle="""
    WITH per_doc AS (
        SELECT lang, source,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
               CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences,
               CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                    '[aeiouy]+')), 1) AS BIGINT) AS syllables
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(sentences) AS BIGINT) AS sentences,
           CAST(SUM(syllables) AS BIGINT) AS syllables,
           CAST(ROUND(1000000.0 * (
               206.835
               - 1.015 * (CAST(SUM(words) AS DOUBLE)
                          / CAST(SUM(sentences) AS DOUBLE))
               - 84.6 * (CAST(SUM(syllables) AS DOUBLE)
                         / CAST(SUM(words) AS DOUBLE))
           ), 0) AS BIGINT) AS flesch_micro
    FROM per_doc
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE per (lang, source) slice — the readability
    gate a pretraining-quality pipeline runs next to q_quality_gopher:
    206.835 - 1.015*(words/sentence) - 84.6*(syllables/word), with the
    standard cheap syllable proxy (maximal vowel-group runs — a
    documented heuristic; for non-Latin scripts the score is a relative
    slice ranking, not an absolute grade level). All three counts are
    exact int64 (whitespace tokens, [.!?]+ sentence breaks clamped to
    >= 1, [aeiouy]+ runs on the lowercased text) aggregated
    map-side-combinably to one row per slice; the score is ONE double
    expression over those exact sums (+,-,*,/ correctly rounded ->
    bit-identical cross-engine), micro-rounded. Pure codegen'd
    regexp_extract_all scans — no UDF, no shuffle beyond the slice
    aggregate. Reference analog: none — target-only capability."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("syllables"),
    )
    agg = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("sentences").alias("sentences"),
        F.sum("syllables").alias("syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("syllables").cast("double") / F.col("words").cast("double"))
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.round(F.lit(1000000.0) * flesch, 0).cast("long").alias("flesch_micro"),
    ).orderBy("lang", "source")


def _compressed_len(texts):
    """Arrow-batched zlib level-6 compressed size per document. zlib is
    deterministic for a fixed level and input, so the emission is
    reproducible (tests recompute it byte-for-byte); there is no SQL
    oracle because DuckDB has no DEFLATE surface — rows-only key with
    the compensating exact-recompute test (COVERAGE.md)."""
    import zlib

    import pandas as pd

    return pd.Series(
        [len(zlib.compress(t.encode("utf-8"), 6)) for t in texts],
        dtype="int64",
    )


@register("q_text_compress_ratio", oracle=None)
def q_text_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO QUALITY SIGNAL (Gopher/RefinedWeb's
    repetition filter): highly compressible text is boilerplate or
    looped spam; incompressible text is noise — both ends get filtered
    before pretraining. Per-doc DEFLATE size comes from an
    Arrow-batched pandas UDF (the sanctioned slow path: zlib is not
    expressible in pyspark.sql.functions — same batch shape as the
    multimodal decoders, ~100x faster than a row-at-a-time Python
    UDF), everything after is exact integer SQL: per-(lang, source)
    sums of original/compressed UTF-8 bytes and the milli-ratio
    floor(1000 * compressed / original). Flags the slice if the corpus
    ratio leaves the [200, 900] band. Reference analog: none —
    target-only capability."""
    from pyspark.sql.functions import pandas_udf

    d = load(spark, sf_dir, "documents")
    clen = pandas_udf(_compressed_len, "long")
    per_doc = d.select(
        "lang",
        "source",
        F.octet_length(F.encode(F.col("text"), "UTF-8"))
        .cast("long")
        .alias("orig_b"),
        clen(F.col("text")).alias("comp_b"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("orig_b").alias("orig_bytes"),
            F.sum("comp_b").alias("comp_bytes"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "orig_bytes",
            "comp_bytes",
            F.expr("1000 * comp_bytes DIV orig_bytes").alias("ratio_milli"),
            (
                (F.expr("1000 * comp_bytes DIV orig_bytes") >= 200)
                & (F.expr("1000 * comp_bytes DIV orig_bytes") <= 900)
            ).alias("in_band"),
        )
        .orderBy("lang", "source")
    )


@register(
    "q_text_script_mix",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]')) AS BIGINT)
                   AS latin,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[\x{4e00}-\x{9fff}]'))
                   AS BIGINT) AS cjk,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS BIGINT)
                   AS digits,
               CAST(LENGTH(text) AS BIGINT) AS chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(latin) AS BIGINT) AS latin_chars,
           CAST(SUM(cjk) AS BIGINT) AS cjk_chars,
           CAST(SUM(digits) AS BIGINT) AS digit_chars,
           CAST(1000000 * SUM(latin) // SUM(chars) AS BIGINT)
               AS latin_ppm,
           CAST(1000000 * SUM(cjk) // SUM(chars) AS BIGINT) AS cjk_ppm
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE SCRIPT-MIX PROFILE per language — the character-class
    census (Latin letters, CJK Unified Ideographs, digits) that a
    multilingual corpus pipeline runs to catch mislabeled languages and
    encoding mojibake before training (a 'zh' slice with near-zero CJK
    ppm is a labeling bug). Script classes are CHARACTER-level regex
    counts — `[\\x{4e00}-\\x{9fff}]` parses identically in Java regex
    and RE2 (verified this round: both engines count codepoints, not
    bytes) — summed exactly per slice with truncating ppm shares of
    total characters. Pure codegen'd scans + one hash aggregate.
    Reference analog: none — target-only capability."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z]"), 0))
        .cast("long")
        .alias("latin"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[\x{4e00}-\x{9fff}]"), 0)
        )
        .cast("long")
        .alias("cjk"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
        .cast("long")
        .alias("digits"),
        F.length("text").cast("long").alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("latin").alias("latin_chars"),
            F.sum("cjk").alias("cjk_chars"),
            F.sum("digits").alias("digit_chars"),
            F.expr("1000000 * sum(latin) DIV sum(chars)").alias("latin_ppm"),
            F.expr("1000000 * sum(cjk) DIV sum(chars)").alias("cjk_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "q_text_vocab_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT lang, word FROM (
            SELECT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' '))
                AS word
            FROM documents
        ) WHERE word <> ''
    ),
    sizes AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM vocab GROUP BY lang
    ),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS common
        FROM vocab a JOIN vocab b
          ON a.word = b.word AND a.lang < b.lang
        GROUP BY 1, 2
    )
    SELECT i.lang_a, i.lang_b, sa.v AS vocab_a, sb.v AS vocab_b, i.common,
           CAST(1000000 * i.common // (sa.v + sb.v - i.common) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON i.lang_a = sa.lang
    JOIN sizes sb ON i.lang_b = sb.lang
    ORDER BY i.lang_a, i.lang_b
    """,
)
def q_text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LANGUAGE VOCABULARY OVERLAP — exact Jaccard of the word
    sets for every language pair: the corpus-contamination /
    code-switching readout (an 'en'-labeled slice sharing most of its
    vocabulary with 'fr' is mislabeled or machine-translated; loanword
    rates between related languages are the expected baseline).
    Dataflow: one explode -> DISTINCT (lang, word) — the only
    data-sized shuffle, keyed on word — then the pair intersection is a
    self-join ON WORD (co-partitioned with the distinct's own
    partitioning; output bounded by shared vocabulary, never the
    corpus) and the union sizes come from the inclusion-exclusion
    identity |A|+|B|-|A∩B| rather than a second join. Truncating ppm.
    Reference analog: none — target-only capability."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
        .distinct()
        .localCheckpoint()
    )
    sizes = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.select(F.col("lang").alias("lang_a"), "word")
    b = vocab.select(F.col("lang").alias("lang_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "common",
            F.expr(
                "1000000 * common DIV (vocab_a + vocab_b - common)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("lang_a", "lang_b")
    )
