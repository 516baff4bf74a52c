"""Text-analysis operators — X4 (SURVEY.md §2.8) + driver north-star.

Language ID (stopword heuristic), quality scoring, token counting, and
rolling-hash document fingerprinting over the ``documents`` table. All
JVM-side (regex/array built-ins) — no Python in the row path; every
formula is written with the identical operation sequence in the oracle
so doubles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.memo import CheckpointMemo
from .registry import query
from .relational import dd

# word lists for the stopword-ratio / language-ID heuristics
EN_STOP = ("the", "a", "of", "and", "to", "in", "is")
FR_STOP = ("le", "la", "et", "les", "des", "un", "une")
ES_STOP = ("el", "de", "y", "los", "las", "en", "que")
DE_STOP = ("der", "die", "und", "das", "ein", "mit", "von")


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks, n_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
           MIN(len(toks)) AS min_tokens,
           MAX(len(toks)) AS max_tokens,
           CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens,
           {dd("SUM(CAST(CAST(n_chars AS DOUBLE) / len(toks) AS DECIMAL(14,6)))")}
             / COUNT(*) AS avg_chars_per_token
    FROM t GROUP BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) with per-language stats.
    The per-doc ratio is decimal-quantized before averaging so the
    aggregate is order-independent."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )
    n_toks = F.size("toks")
    ratio = (F.col("n_chars").cast("double") / n_toks).cast("decimal(14,6)")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_toks).alias("total_tokens"),
        F.min(n_toks).alias("min_tokens"),
        F.max(n_toks).alias("max_tokens"),
        (F.sum(n_toks).cast("double") / F.count("*")).alias("avg_tokens"),
        (F.sum(ratio).cast("double") / F.count("*")).alias("avg_chars_per_token"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\\s+') AS toks,
             length(text) AS nc
      FROM documents
    ), scored AS (
      SELECT doc_id, source,
             CAST(
               CAST(len(list_filter(toks, w -> list_contains([{_sql_list(EN_STOP)}], w)))
                    AS DOUBLE) / len(toks)
               + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               + CAST(CASE WHEN len(toks) >= 20 AND len(toks) <= 200 THEN 1 ELSE 0 END
                      AS DOUBLE)
             AS DECIMAL(14,6)) AS quality
      FROM t WHERE len(toks) > 0
    )
    SELECT source, COUNT(*) AS n_docs,
           {dd("SUM(quality)")} / COUNT(*) AS avg_quality,
           {dd("MIN(quality)")} AS min_quality,
           {dd("MAX(quality)")} AS max_quality
    FROM scored GROUP BY source
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio + lexical diversity +
    length-band bonus (the Gopher-rules shape), aggregated per source."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )
    n = F.size("toks")
    stop_arr = F.array(*[F.lit(w) for w in EN_STOP])
    n_stop = F.size(F.filter("toks", lambda w: F.array_contains(stop_arr, w)))
    diversity = F.size(F.array_distinct("toks")).cast("double") / n
    length_bonus = F.when((n >= 20) & (n <= 200), 1).otherwise(0).cast("double")
    quality = (
        (n_stop.cast("double") / n) + diversity + length_bonus
    ).cast("decimal(14,6)")
    return (
        docs.filter(n > 0)
        .withColumn("quality", quality)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("quality").cast("double") / F.count("*")).alias("avg_quality"),
            F.min("quality").cast("double").alias("min_quality"),
            F.max("quality").cast("double").alias("max_quality"),
        )
    )


def _lang_case_sql() -> str:
    def cnt(words: tuple[str, ...]) -> str:
        return f"len(list_filter(toks, w -> list_contains([{_sql_list(words)}], w)))"

    return f"""
      CASE
        WHEN {cnt(FR_STOP)} > {cnt(EN_STOP)}
             AND {cnt(FR_STOP)} > {cnt(ES_STOP)}
             AND {cnt(FR_STOP)} > {cnt(DE_STOP)} THEN 'fr'
        WHEN {cnt(ES_STOP)} > {cnt(EN_STOP)}
             AND {cnt(ES_STOP)} > {cnt(DE_STOP)} THEN 'es'
        WHEN {cnt(DE_STOP)} > {cnt(EN_STOP)} THEN 'de'
        WHEN {cnt(EN_STOP)} > 0 THEN 'en'
        ELSE 'unknown'
      END
    """


@query(
    "text_language_id",
    oracle=f"""
    WITH t AS (
      SELECT lang, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    )
    SELECT lang AS actual_lang, {_lang_case_sql()} AS predicted_lang, COUNT(*) AS n
    FROM t GROUP BY 1, 2
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID; output is the confusion matrix against
    the labeled ``lang`` column. (The fixture corpus is synthetic
    tech-word soup, so most rows classify 'en'/'unknown' — the operator
    contract is determinism, not fixture accuracy.)"""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )

    def cnt(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter("toks", lambda w: F.array_contains(arr, w)))

    en, fr, es, de = cnt(EN_STOP), cnt(FR_STOP), cnt(ES_STOP), cnt(DE_STOP)
    predicted = (
        F.when((fr > en) & (fr > es) & (fr > de), "fr")
        .when((es > en) & (es > de), "es")
        .when(de > en, "de")
        .when(en > 0, "en")
        .otherwise("unknown")
    )
    return docs.groupBy(
        F.col("lang").alias("actual_lang"), predicted.alias("predicted_lang")
    ).agg(F.count("*").alias("n"))


@query(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang,
             list_reduce(
               list_transform(string_split(substr(text, 1, 64), ''),
                              c -> CAST(unicode(c) AS BIGINT)),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      FROM documents WHERE length(text) > 0
    )
    SELECT lang, COUNT(*) AS n_docs,
           COUNT(DISTINCT fingerprint) AS n_distinct_fp,
           MIN(fingerprint) AS min_fp, MAX(fingerprint) AS max_fp
    FROM fp GROUP BY lang
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (base 31 mod 1e9+7) of each
    document's 64-char prefix — the cheap first-pass signature for
    near-dup candidate pruning. Identical hash on both engines."""
    fp = F.aggregate(
        F.transform(F.split(F.substring("text", 1, 64), ""), lambda c: F.ascii(c).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .withColumn("fingerprint", fp)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_distinct_fp"),
            F.min("fingerprint").alias("min_fp"),
            F.max("fingerprint").alias("max_fp"),
        )
    )


@query(
    "text_bpe_token_count",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_word
    FROM t GROUP BY lang
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style counting: a BPE-ish pre-tokenization regex
    (alphanumeric runs + individual punctuation — the GPT-2 pre-split
    shape) alongside the whitespace count. At 100 TB this is the
    cheapest cost estimator for training-token budgeting — one regex
    pass, no shuffle beyond the final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)))
    n_ws = F.size(F.split(F.trim("text"), r"\s+"))
    return (
        docs.select("lang", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
        .groupBy("lang")
        .agg(
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_ws").alias("total_ws_tokens"),
            (F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias("bpe_per_word"),
        )
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, len(toks) AS n_words,
             list_max(list_transform(list_distinct(toks),
                      w -> len(list_filter(toks, x -> x = w)))) AS top_cnt,
             CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS total3,
             CASE WHEN len(toks) >= 3 THEN
               len(list_distinct(list_transform(range(len(toks)-2),
                   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
             ELSE 0 END AS distinct3
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, n_words,
           CAST(top_cnt AS DOUBLE) / n_words AS top_word_frac,
           CASE WHEN total3 > 0
                THEN 1.0 - CAST(distinct3 AS DOUBLE) / total3
                ELSE 0.0 END AS dup_3gram_frac,
           (CAST(top_cnt AS DOUBLE) / n_words > 0.2
            OR (total3 > 0 AND 1.0 - CAST(distinct3 AS DOUBLE) / total3 > 0.3))
             AS is_repetitive
    FROM m
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document: most-
    frequent-word fraction and duplicate-3-gram fraction, plus the
    combined repetitive-document flag. Shuffle-free by design — every
    metric is a per-row array expression (no explode/groupBy), so at
    100 TB the filter runs map-side at scan speed."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.trim("text"), r"\s+")
    )
    n = F.size("toks")
    # most-frequent-word count as the longest run of the SORTED token
    # array (one aggregate() fold): O(n log n) per document instead of
    # the O(distinct × n) nested rescan of transform+filter — same
    # exact count, and the map-side cost stays bounded for long
    # documents at 100 TB (guide §1.2 step 2: per-task work).
    top_cnt = F.expr(
        "aggregate(array_sort(toks),"
        " struct(CAST('' AS STRING) AS prev, 0 AS run, 0 AS best),"
        " (acc, x) -> struct(x AS prev,"
        "   IF(x = acc.prev, acc.run + 1, 1) AS run,"
        "   GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, 1)) AS best),"
        " acc -> acc.best)"
    )
    three_grams = F.expr(
        "transform(sequence(0, size(toks)-3),"
        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
    )
    total3 = F.when(n >= 3, n - 2).otherwise(0)
    distinct3 = F.when(n >= 3, F.size(F.array_distinct(three_grams))).otherwise(0)
    top_frac = top_cnt.cast("double") / n
    dup3 = F.when(
        total3 > 0, F.lit(1.0) - distinct3.cast("double") / total3
    ).otherwise(0.0)
    return (
        docs.filter(n > 0)
        .select(
            "doc_id",
            n.alias("n_words"),
            top_frac.alias("top_word_frac"),
            dup3.alias("dup_3gram_frac"),
            ((top_frac > 0.2) | ((total3 > 0) & (dup3 > 0.3))).alias("is_repetitive"),
        )
    )


#: PII / denylist scrub patterns — identical semantics in Java regex and
#: DuckDB's RE2 (\\b word boundaries, no lookaround). The fixture corpus
#: carries no synthetic PII, so the email/phone counters exercise the
#: no-match identity path while the denylist terms (present in the
#: corpus) exercise real replacement.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9() -]{6,}[0-9]"
DENYLIST = ("spark", "key")
_DENY_RE = r"\b(" + "|".join(DENYLIST) + r")\b"


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_email,
           len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phone,
           len(regexp_extract_all(text, '{_DENY_RE}')) AS n_denylist,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g'),
                 '{_DENY_RE}', '[TERM]', 'g')) AS scrubbed_hash
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / denylist scrubbing — the redaction pass every training-data
    pipeline runs before tokenization. Counts each pattern class and
    emits the md5 of the fully scrubbed text (the hash, compared against
    the oracle, proves byte-identical redaction across engines). One
    map-side regex pass; no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        _DENY_RE,
        "[TERM]",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("n_email"),
        F.regexp_count("text", F.lit(PII_PHONE)).alias("n_phone"),
        F.regexp_count("text", F.lit(_DENY_RE)).alias("n_denylist"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


@query(
    "text_char_classes",
    oracle="""
    SELECT source,
           CAST(SUM(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
                AS BIGINT) AS n_vowels,
           CAST(SUM(length(text) - length(regexp_replace(text, '\\s', '', 'g')))
                AS BIGINT) AS n_whitespace,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars_total
    FROM documents GROUP BY source
    """,
)
def text_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class counting via regex strip-and-diff (punctuation /
    whitespace / vowel ratios are the building blocks of quality rules).
    Spark regexp_replace is global by default; DuckDB needs the 'g' flag
    — an engine-portability trap encoded here once."""
    docs = load_table(spark, sf_dir, "documents")
    n_vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    n_ws = F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))
    return docs.groupBy("source").agg(
        F.sum(n_vowels).alias("n_vowels"),
        F.sum(n_ws).alias("n_whitespace"),
        F.sum(F.length("text")).alias("n_chars_total"),
    )


#: Winnowing parameters (Schleimer, Wilkerson, Aiken — "Winnowing: Local
#: Algorithms for Document Fingerprinting", SIGMOD 2003): character
#: k-grams over whitespace-stripped text, minimum hash per window of w
#: consecutive k-gram hashes. Guarantee: any shared substring of length
#: >= K + W - 1 produces at least one shared fingerprint.
WINNOW_K = 5
WINNOW_W = 4

#: Shared oracle CTE chain ``t → g → m`` ending in (doc_id, hs, fps) —
#: reused by dedup.py's winnowing-overlap oracle so both engines' SQL
#: derives fingerprints identically.
WINNOW_CTES_SQL = f"""t AS (
      SELECT doc_id,
             lower(regexp_replace(text, '\\s+', '', 'g')) AS s
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, length(s) - {WINNOW_K} + 2),
                            i -> CAST('0x' || substr(md5(substr(s, i, {WINNOW_K})), 1, 8)
                                      AS BIGINT)) AS hs
      FROM t
      WHERE length(s) >= {WINNOW_K + WINNOW_W - 1}
    ), m AS (
      SELECT doc_id, hs,
             list_distinct(list_transform(range(1, len(hs) - {WINNOW_W} + 2),
                           j -> list_min(hs[j : j + {WINNOW_W} - 1]))) AS fps
      FROM g
    )"""


def winnow_fps_from(docs: DataFrame) -> DataFrame:
    """(doc_id, hs, fps) from any (doc_id, text) relation: per-document
    k-gram hash array and distinct winnowing fingerprint set.

    The hash work itself is map-side; the leading repartition spreads
    the CPU-heavy md5 stage across all cores when the input arrives as
    one file = one split (the fixture layout — same justification as
    the shingle pipeline, dedup.py). On a real lake the scan has as many
    splits as the file layout provides and the exchange coalesces to a
    no-op under AQE."""
    k, w = WINNOW_K, WINNOW_W
    sc = docs.sparkSession.sparkContext
    docs = docs.repartition(sc.defaultParallelism).select(
        "doc_id",
        F.lower(F.regexp_replace("text", r"\s+", "")).alias("s"),
    )
    docs = docs.filter(F.length("s") >= k + w - 1)
    hs = F.expr(
        f"transform(sequence(1, length(s) - {k} + 1),"
        f" i -> cast(conv(substring(md5(substring(s, i, {k})), 1, 8), 16, 10) AS bigint))"
    )
    docs = docs.select("doc_id", hs.alias("hs"))
    fps = F.expr(
        f"array_distinct(transform(sequence(1, size(hs) - {w} + 1),"
        f" j -> array_min(slice(hs, j, {w}))))"
    )
    return docs.select("doc_id", "hs", fps.alias("fps"))


def winnow_fps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints of the fixture ``documents`` table."""
    return winnow_fps_from(load_table(spark, sf_dir, "documents"))


#: winnowing fingerprint-set memo, keyed by (applicationId, sf_dir):
#: text_winnowing_fingerprint and dedup_winnowing_overlap both pay the
#: md5-per-k-gram extraction pass (the dominant cost of either query) —
#: one materialization per session instead of one per query, the same
#: sanctioned convention as the shingle/token memos. The checkpoint
#: holds (doc_id, n_grams, fps) — gram COUNT, not the gram-hash array,
#: so the stored relation is the distinct-fingerprint sets only (~1/W
#: of the hash stream). Auto-registered for the bench's memo-cold reset
#: via the CheckpointMemo constructor (functions/memo.py).
_WINNOW_FPS_CACHE = CheckpointMemo()


def winnow_fp_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, fps): per-document k-gram count and distinct
    winnowing fingerprint set, memoized + lineage-cut per session.

    The localCheckpoint doubles as the mandatory pre-explode lineage cut
    for consumers that explode ``fps`` (CollapseProject would otherwise
    re-evaluate the md5-heavy array expression per output element —
    O(grams²) per document; see _spark_shingles_materialized)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _WINNOW_FPS_CACHE.get(key)
    if cached is None:
        cached = _WINNOW_FPS_CACHE.put(
            key,
            winnow_fps_df(spark, sf_dir)
            .select("doc_id", F.size("hs").alias("n_grams"), "fps")
            .localCheckpoint(eager=False),
        )
    return cached


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH {WINNOW_CTES_SQL}
    SELECT doc_id,
           len(hs) AS n_grams,
           len(fps) AS n_fingerprints,
           CAST(list_sum(fps) AS BIGINT) AS fp_checksum
    FROM m
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (SIGMOD'03): md5-prefix hashes of
    character 5-grams (WINNOW_K), minimum per sliding window of 4 hashes (WINNOW_W),
    deduplicated. Entirely map-side array expressions — no explode, no
    shuffle — so at 100 TB fingerprint extraction runs at scan speed and
    only the (doc_id, fingerprint-set summary) survives. The distinct
    min-hash set is the plagiarism/overlap signature; two docs sharing a
    substring of >= K+W-1 chars share >= 1 fingerprint.
    Reference analog: none (driver-mandated extension surface, X4).

    r15 (guide §1.2 "don't compute twice"): reads the session-memoized
    fingerprint-set relation shared with dedup_winnowing_overlap — the
    md5-per-gram extraction runs once per session, not once per query;
    the bench's memo-cold pass records the standalone cost."""
    return winnow_fp_sets(spark, sf_dir).select(
        "doc_id",
        "n_grams",
        F.size("fps").alias("n_fingerprints"),
        F.aggregate("fps", F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "fp_checksum"
        ),
    )
