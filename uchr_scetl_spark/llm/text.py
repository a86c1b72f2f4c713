"""§2.9 text-analysis operators over the `documents` corpus.

Everything is declarative DataFrame algebra — tokenization is
``split``, statistics are explode+groupBy, rankings are bounded
windows. At 100 TB these shapes stay shuffle-parallel: the explode
multiplies rows but never leaves the executor, aggregations are
partial+final, and every window is partitioned (by lang / doc), never
global.

tf-idf ranking note: the *checked* ranking orders by the pure-integer
key (tf DESC, df ASC, term) — the same ordering tf·ln(N/df) induces
when tf dominates — because ln is libm-backed and not bit-reproducible
across engines (see functions/scalars.py fn_math_libm). The double
tf-idf scores are still computed, in the rows-only companion key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import literal_rows_df
from ..io import load
from ..memo import Memo
from ..registry import query
from ..session import default_parallelism


def tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


@query(
    "text_tokenize_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT)               AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT)    AS n_distinct_tokens,
           (CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id)) AS avg_tokens_per_doc
    FROM toks
    GROUP BY lang
    """,
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (counts, lengths, ratios) from one
    whitespace-split pass — the quality-scoring primitive over
    documents."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.explode(tokens()).alias("tok"))
    return t.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        (F.count("*").cast("double") / F.countDistinct("doc_id")).alias(
            "avg_tokens_per_doc"
        ),
    )


@query(
    "text_tf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), counted AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tf GROUP BY doc_id, tok
    )
    SELECT doc_id, tok AS top_term, tf
    FROM counted
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf DESC, tok) = 1
    """,
)
def text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequency; emit each doc's top term."""
    d = load(spark, sf_dir, "documents")
    counted = (
        d.select("doc_id", F.explode(tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "tok")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "tf")
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY lang, tok
    ), df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY tok
    )
    SELECT tf.lang, tf.tok AS term, tf.tf, df.df,
           CAST(row_number() OVER (PARTITION BY tf.lang
                ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS BIGINT) AS rnk
    FROM tf JOIN df ON tf.tok = df.tok
    QUALIFY rnk <= 5
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per language: highest in-language tf,
    rarest corpus-wide df as tiebreak (integer-exact tf-idf ordering)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(tokens()).alias("tok"))
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("df").asc(), "tok")
    return (
        tf.join(df, "tok")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .select("lang", F.col("tok").alias("term"), "tf", "df", "rnk")
    )


@query(
    "text_tfidf_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY tok
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           CAST(floor(tf.tf * ln(n.n_docs / df.df) * 1000000) AS BIGINT)
             AS tfidf_micro
    FROM tf JOIN df USING (tok), n
    """,
)
def text_tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic tf·idf (idf = ln(N/df)). ln is libm-backed and not
    bit-reproducible across engines, so the CHECKED score is quantized
    to a microscale integer (floor(tfidf·1e6)) alongside the exact tf
    and df integers — a cross-engine flake would need a score within
    ~1e-15 relative of a 1e-6 grid line (absent on this data, verified
    at every SF), while a real tf/df/N bug shifts the integer."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar, one job; at scale: sketch or metadata count
    toks = d.select("doc_id", "lang", F.explode(tokens()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(df, "tok")
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.floor(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6
            )
            .cast("bigint")
            .alias("tfidf_micro"),
        )
    )


_LANG_MARKERS: dict[str, list[str]] = {
    # marker-token dictionaries for the n-gram/stopword language-ID
    # heuristic; tiny on purpose (broadcast as literals into the plan)
    "en": ["the", "and", "of", "select", "where"],
    "de": ["der", "und", "die", "nicht", "mit"],
    "es": ["el", "los", "que", "para", "con"],
}


@query(
    "text_langid",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_intersect(string_split(text, ' '),
                 ['the','and','of','select','where'])) AS s_en,
             len(list_intersect(string_split(text, ' '),
                 ['der','und','die','nicht','mit']))   AS s_de,
             len(list_intersect(string_split(text, ' '),
                 ['el','los','que','para','con']))     AS s_es
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(s_en AS INTEGER) AS s_en,
           CAST(s_de AS INTEGER) AS s_de,
           CAST(s_es AS INTEGER) AS s_es,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_es THEN 'de'
                ELSE 'es' END AS predicted
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-hit language ID: deterministic argmax over marker-token
    intersection counts (priority order en > de > es on ties)."""
    d = load(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens())
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        ).alias(f"s_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    }
    scored = d.select("doc_id", "lang", *scores.values())
    s_en, s_de, s_es = F.col("s_en"), F.col("s_de"), F.col("s_es")
    return scored.select(
        "doc_id",
        "lang",
        "s_en",
        "s_de",
        "s_es",
        F.when((s_en == 0) & (s_de == 0) & (s_es == 0), "und")
        .when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
        .alias("predicted"),
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')))             AS avg_token_len,
           (CAST(len(list_intersect(string_split(text, ' '),
                 ['select','from','join','where','group'])) AS DOUBLE)
              / len(list_distinct(string_split(text, ' ')))) AS stopword_ratio,
           (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
              / NULLIF(length(text), 0))                   AS alpha_ratio
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / token-shape / stopword / alphabetic-ratio quality
    signals — the standard cheap pre-filters for LLM training data."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    stop = F.array(*[F.lit(t) for t in ["select", "from", "join", "where", "group"]])
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        (
            F.size(F.array_intersect(F.array_distinct(toks), stop)).cast("double")
            / F.size(F.array_distinct(toks))
        ).alias("stopword_ratio"),
        # NULLIF guard: an empty doc has length 0 and ANSI mode makes
        # x/0 a crash, not an inf — NULL alpha_ratio on both sides.
        (
            F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
            / F.nullif(F.length("text"), F.lit(0))
        ).alias("alpha_ratio"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT)                                          AS bpe_ish_tokens,
           CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT)   AS est_tokens_len4
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (alpha runs / digit runs / single punctuation), and the chars/4
    heuristic."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).cast("bigint").alias("bpe_ish_tokens"),
        F.ceil(F.length("text").cast("double") / F.lit(4)).cast("bigint").alias(
            "est_tokens_len4"
        ),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   tok -> ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1000003)),
               (acc, h) -> (acc * 31 + h) % 1000000007
             )
           END AS fingerprint,
           CAST(len(text) AS BIGINT) AS n
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document, computed
    with a higher-order ``aggregate`` over the token array — all
    JVM-side modular integer arithmetic (bounded < 2^63, ANSI-safe),
    no UDF. The per-token hash is md5-derived (top 15 hex chars →
    60-bit bigint — the same cross-engine trick as dedup_simhash), so
    DuckDB's list_reduce reproduces the rolling value exactly and the
    key is fully value-checked."""
    d = load(spark, sf_dir, "documents")
    rolling = F.expr(
        """
        aggregate(
          split(text, ' '),
          cast(0 as bigint),
          (acc, tok) -> pmod(
            acc * 31L + pmod(cast(conv(substring(md5(tok), 1, 15), 16, 10)
                                  as bigint), 1000003L),
            1000000007L
          )
        )
        """
    )
    return d.select("doc_id", rolling.alias("fingerprint"), F.length("text").alias("n"))


@query(
    "text_pack_sequences",
    oracle="""
    WITH sized AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor(
             (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens)
             / 512) AS BIGINT) AS bin_id
    FROM sized
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    fixed-token-budget bins (512 tokens) by deterministic order.

    The cumulative-sum formulation (bin = floor(tokens_before/budget))
    is the shuffle-parallel approximation of greedy first-fit: one
    window over (lang, doc_id order), no sequential driver loop. At
    100 TB the partition key becomes (lang, shard) so no single window
    partition grows unbounded — packing quality is unchanged because
    bins never cross shards in a real pipeline anyway."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    return sized.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512)),
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com phone 555-' || (doc_id % 10000) ||
             ' ip 10.0.' || (doc_id % 256) || '.1' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
                 '<EMAIL>', 'g'),
               '[0-9][0-9][0-9]-[0-9]+', '<PHONE>', 'g'),
             '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g')
             AS clean_text,
           CAST(length(raw) AS BIGINT) AS raw_len
    FROM seeded
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: emails, phone numbers and
    IPv4 addresses replaced with typed placeholder tokens via a
    regexp_replace chain — entirely JVM-side codegen, no UDF, so at
    100 TB the scrub rides the scan with zero extra shuffles.

    The corpus is synthetic plain words, so the query first seeds each
    document with deterministic PII derived from doc_id (both engines
    build the identical string) and then scrubs it; the regexes are
    the operator under test. Patterns stay within the syntax subset
    Java regex and RE2 share (explicit classes, no lookaround)."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com phone 555-"),
        F.col("doc_id") % 10000,
        F.lit(" ip 10.0."),
        F.col("doc_id") % 256,
        F.lit(".1"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("raw"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
                "<EMAIL>",
            ),
            r"[0-9][0-9][0-9]-[0-9]+",
            "<PHONE>",
        ),
        r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+",
        "<IP>",
    )
    return (
        d.withColumn("raw", raw)
        .select(
            "doc_id",
            scrub.alias("clean_text"),
            F.length("raw").cast("bigint").alias("raw_len"),
        )
    )


@query(
    "text_contamination_check",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    words AS (
      -- parallel UNNESTs zip; a correlated t[i] / list-slice per
      -- unnested row copies the WHOLE list per gram (O(len²) per doc:
      -- 216 s for one 100k-token document, round-9 giant-doc sweep) —
      -- the window form is linear
      SELECT doc_id, UNNEST(t) AS w,
             UNNEST(generate_series(1, len(t))) AS i
      FROM toks
    ),
    grams AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
               AS g
      FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    bench AS (
      SELECT DISTINCT g FROM grams WHERE g IS NOT NULL AND doc_id % 50 = 0
    ),
    corp AS (
      SELECT DISTINCT doc_id, g FROM grams
      WHERE g IS NOT NULL AND doc_id % 50 <> 0
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM corp c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    3-gram with a held-out eval set (here: every 50th document stands
    in for the benchmark) and report how many distinct grams leak —
    the standard n-gram-overlap contamination test run before every
    serious pretraining mix.

    Scale shape: both sides explode to (gram, doc) pairs and
    hash-join on the gram — an inverted-index join, so only grams
    that actually occur on both sides meet; nothing is pairwise in
    the number of documents. Grams are hashed to int64 the moment
    they're formed (the dedup_ngram_jaccard trick): every downstream
    shuffle/distinct/join carries 8-byte keys instead of strings, and
    the oracle still matches because it only compares per-doc COUNTS
    of shared grams (collision odds ~1e-9 at this vocabulary). The
    token array is bound once via a single-element-array lambda —
    naming it `t` inside transform() stops Catalyst's projection
    collapse from inlining split() three times per row (measured 2×
    on this key)."""
    d = load(spark, sf_dir, "documents")
    # Same short-doc hazard as text_bigram_lm_score: for <3 tokens the
    # index sequence descends and slice(t, 0, 3) throws. Sub-3-token
    # docs carry no 3-grams on either side, so filtering is exact.
    d = d.where(F.size(F.split(F.col("text"), " ")) >= 3)
    grams = d.repartition(default_parallelism(), "doc_id").select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')),"
                " t -> transform(sequence(0, size(t) - 3),"
                "   i -> xxhash64(array_join(slice(t, i + 1, 3), ' '))))[0]"
            )
        ).alias("g"),
    )
    bench = grams.where(F.col("doc_id") % 50 == 0).select("g").distinct()
    corp = grams.where(F.col("doc_id") % 50 != 0).distinct()
    return (
        corp.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@query(
    "text_bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), words AS (
      -- linear gram build (parallel UNNEST + lead window); the
      -- correlated t[g.i] form copies the list per row, O(len²) per
      -- doc (round-9 giant-doc sweep)
      SELECT doc_id, UNNEST(t) AS w,
             UNNEST(generate_series(1, len(t))) AS i
      FROM t
    ), pairs AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        FROM words
      ) WHERE w2 IS NOT NULL
    ), cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY 1, 2
    ), cu AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY 1
    ), lp AS (
      SELECT p.doc_id,
             CAST(floor(ln(CAST(cb.cb AS DOUBLE) / cu.cu) * 1000000)
                  AS BIGINT) AS lp_micro
      FROM pairs p JOIN cb USING (w1, w2) JOIN cu USING (w1)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(floor(CAST(SUM(lp_micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS avg_lp_micro
    FROM lp GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average bigram log-probability
    under the corpus's own bigram model — the classic cheap LM signal
    for pretraining-mix filtering (docs whose word transitions are
    atypical for the corpus score low).

    Two-pass shape that survives 100 TB: bigram counts and prefix
    totals are groupBy aggregates on the bigram/prefix key (partial
    aggregation server-side), the model joins back to the bigram rows
    on the same key (no broadcast of the corpus; the model relation is
    vocabulary², not corpus, sized). Determinism discipline: each
    per-bigram ln() is quantized to a microscale INTEGER first, and
    only integers are summed — a float sum's value depends on
    accumulation order across partitions, an integer sum's does not."""
    d = load(spark, sf_dir, "documents")
    # Guard the expansion: sequence(0, size(t)-2) DESCENDS for a
    # 1-token doc ([0,-1]) and element_at(t, 0) throws. Docs with <2
    # tokens produce no bigrams in the oracle either (generate_series
    # is empty), so the filter is semantics-preserving and pushes to
    # the scan rather than wrapping every row in a CASE.
    pairs = (
        d.where(F.size(F.split(F.col("text"), " ")) >= 2)
        .repartition(default_parallelism(), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(array(split(text, ' ')),"
                    " t -> transform(sequence(0, size(t) - 2),"
                    "   i -> struct(element_at(t, i + 1) AS w1,"
                    "              element_at(t, i + 2) AS w2)))[0]"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").alias("cu"))
    lp = pairs.join(cb, ["w1", "w2"]).join(cu, "w1").select(
        "doc_id",
        F.floor(F.log(F.col("cb").cast("double") / F.col("cu")) * 1e6)
        .cast("bigint")
        .alias("lp_micro"),
    )
    return lp.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.floor(F.sum("lp_micro") / F.count("*")).cast("bigint").alias(
            "avg_lp_micro"
        ),
    )


@query(
    "text_vocab_topk",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
    ), tot AS (
      SELECT SUM(n) AS total FROM c
    )
    SELECT tok, n, CAST((n * 1000000) // tot.total AS BIGINT) AS coverage_ppm
    FROM c, tot
    ORDER BY n DESC, tok
    LIMIT 100
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary building block: global top-100 tokens by
    corpus frequency with parts-per-million coverage. Deterministic
    tiebreak (count desc, token asc); coverage in exact integer ppm so
    no float division enters the checked result. Scale shape: one
    groupBy(token) with map-side partial counts, a one-row total
    broadcast-crossed back, and a global TakeOrderedAndProject — the
    top-k never materialises the full vocabulary on one node."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens()).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n",
            F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy(F.col("n").desc(), "tok")
        .limit(100)
    )


@query(
    "text_length_histogram",
    oracle="""
    WITH sized AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    )
    SELECT lang,
           CAST(least(nt // 64, 32) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM sized GROUP BY 1, 2
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning histogram: docs bucketed by token count
    (64-token-wide integer buckets, capped at 32) per language — the
    distribution a packing/padding strategy (text_pack_sequences) is
    tuned against. Pure integer bucket arithmetic; one groupBy."""
    d = load(spark, sf_dir, "documents")
    nt = F.size(tokens()).cast("bigint")
    return (
        d.select("lang", nt.alias("nt"))
        .select("lang", F.least(F.expr("nt DIV 64"), F.lit(32)).cast("bigint").alias("bucket"), "nt")
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      -- single-index concat, NOT array_to_string(t[i : i+2]): a list
      -- SLICE inside the comprehension copies O(len) per element —
      -- quadratic per doc, 227 s for one 100k-token document in the
      -- round-9 giant-doc sweep; t[i] element access is O(1)
      SELECT doc_id,
             [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
              for i in generate_series(1, len(t) - 2)] AS g
      FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(g) - len(list_distinct(g)) AS BIGINT) AS n_dup_grams,
           CAST(((len(g) - len(list_distinct(g))) * 1000000) // len(g)
                AS BIGINT) AS dup_ppm
    FROM grams
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score: the fraction of duplicated
    3-grams inside each document — the standard boilerplate /
    degenerate-generation signal (navigation chrome, scraped template
    text, and looping model output all score high; Gopher/MassiveText
    -style quality filters cut on exactly this family of ratios).

    Entirely scan-side higher-order-function algebra: one token split,
    one in-row 3-gram transform, array_distinct for the unique count —
    no explode, no shuffle, no Python. The ratio is reported in exact
    integer ppm so the checked value is engine-identical. Documents
    shorter than the 3-gram window carry no grams and are excluded on
    both sides (the same short-doc guard as text_contamination_check).
    """
    d = load(spark, sf_dir, "documents")
    d = d.where(F.size(F.split(F.col("text"), " ")) >= 3)
    grams = F.expr(
        "transform(array(split(text, ' ')),"
        " t -> transform(sequence(1, size(t) - 2),"
        "   i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
        "                  element_at(t, i + 2))))[0]"
    )
    return (
        d.select("doc_id", grams.alias("g"))
        .select(
            "doc_id",
            F.size("g").cast("bigint").alias("n_grams"),
            (F.size("g") - F.size(F.array_distinct("g")))
            .cast("bigint")
            .alias("n_dup_grams"),
            # the dup count must widen BEFORE the ppm multiply:
            # size() is INT, and one ~100k-gram document (round-9
            # giant-doc sweep) pushes dup·1e6 past 2^31 — ANSI Spark
            # threw where DuckDB's BIGINT len() answered
            F.expr(
                "CAST((CAST(size(g) - size(array_distinct(g)) AS BIGINT)"
                " * 1000000) DIV size(g) AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


SPAN_W = 3  # tokens per non-overlapping span


@query(
    "text_span_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ), words AS (
      -- linear span build (parallel UNNEST + ordered string_agg per
      -- span index); the correlated list-slice form copies the list
      -- per span, O(len²) per doc (round-9 giant-doc sweep)
      SELECT doc_id, n, UNNEST(t) AS w,
             UNNEST(generate_series(1, n)) AS i
      FROM t
    ), spans AS (
      SELECT doc_id, n, string_agg(w, ' ' ORDER BY i) AS span
      FROM words
      WHERE i <= (n // {SPAN_W}) * {SPAN_W}
      GROUP BY doc_id, n, (i - 1) // {SPAN_W}
    ), df AS (
      SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM spans GROUP BY span
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST((SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
                 * {SPAN_W} * 1000000) // MAX(s.n) AS BIGINT)
             AS dup_token_ppm
    FROM spans s JOIN df USING (span)
    GROUP BY s.doc_id
    """,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-span accounting — the span-granular
    relaxation of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): cut each document
    into non-overlapping W-token spans, count in how many distinct
    documents each span occurs corpus-wide, and report per document
    how many of its spans (and what ppm of its tokens) are duplicated
    text that a substring-dedup pass would remove.

    Complements the neighbouring keys: text_repetition_score is
    WITHIN-doc duplication, text_contamination_check is train-vs-eval
    overlap — this is corpus-wide inter-document span duplication, the
    signal behind "X% of tokens in the crawl are verbatim copies".

    Scale shape: one in-row span transform (no per-token explode — the
    explode is on span positions, n/W rows per doc), one groupBy on
    the span key for document frequency, one join back on the same
    key, one per-doc aggregate. Spans are xxhash64'd to int64 the
    moment they're formed (the contamination-check trick) so every
    shuffle carries 8-byte keys; the oracle joins raw strings but only
    per-doc COUNTS are compared, so the ~1e-9 collision odds never
    surface. Sub-W-token docs carry no spans on either side (the
    generate_series upper bound is 0), so the pushed filter is exact."""
    d = load(spark, sf_dir, "documents")
    d = d.where(F.size(F.split(F.col("text"), " ")) >= SPAN_W)
    spans = d.repartition(default_parallelism(), "doc_id").select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(array(split(text, ' ')),"
                f" t -> transform(sequence(1, size(t) DIV {SPAN_W}),"
                f"   i -> struct(size(t) AS n,"
                f"     xxhash64(array_join("
                f"       slice(t, (i - 1) * {SPAN_W} + 1, {SPAN_W}), ' '))"
                f"     AS h)))[0]"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.n").cast("bigint").alias("n"), F.col("s.h").alias("h"))
    dfreq = spans.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        spans.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            F.max("n").alias("_n"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr(
                f"CAST((n_dup_spans * {SPAN_W} * 1000000) DIV _n AS BIGINT)"
            ).alias("dup_token_ppm"),
        )
    )


BPE_TOP_K = 20
BPE_MIN_WORD_LEN = 2


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM words
      WHERE length(w) >= {BPE_MIN_WORD_LEN} GROUP BY w
    ), pairs AS (
      SELECT unnest([{{'l': substring(w, i, 1), 'r': substring(w, i + 1, 1)}}
                     for i in generate_series(1, length(w) - 1)]) AS p, wc
      FROM vocab
    )
    SELECT p.l AS left_sym, p.r AS right_sym,
           CAST(SUM(wc) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym LIMIT {BPE_TOP_K}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training, distributed:
    corpus-weighted adjacent-symbol pair counts, top candidates first
    — the exact statistic a byte-pair-encoding trainer maximises when
    choosing its next merge.

    Scale design — the classic BPE factoring: pair generation runs on
    the WORD VOCABULARY, not the corpus. The corpus-sized work is one
    partial+final count per distinct word (the shuffle carries
    vocabulary rows); the quadratic-feeling symbol-pair explode then
    multiplies only |vocab| × word-length rows, each weighted by the
    word's corpus frequency. On a 100 TB corpus the vocabulary is
    millions of rows where the corpus is trillions — subsequent merge
    rounds re-run over the (re-segmented) vocabulary alone, never
    re-reading the corpus. Top-k is a total order (count DESC, then
    both symbols), so the result set is deterministic under ties."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens()).alias("w"))
        .where(F.length("w") >= BPE_MIN_WORD_LEN)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pair = F.explode(
        F.expr(
            "transform(sequence(1, length(w) - 1),"
            " i -> struct(substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r))"
        )
    )
    return (
        vocab.select("wc", pair.alias("p"))
        .groupBy(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"))
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(BPE_TOP_K)
    )


BPE_MERGE_ROUNDS = 3
# ASCII unit separator: symbol-list delimiter for the merge loop's
# string-encoded segmentations. RESERVED: a token that itself
# contains U+001F is the classic in-band-delimiter collision — the
# wrapped char would read back as empty symbols and silently vanish
# from pair counts and token totals ON BOTH ENGINES (hash-green but
# value-wrong). Both sides therefore reject it loudly at the vocab
# build (the dedup_vec_ids NULL-component pattern): real corpora
# pre-normalize C0 separator controls to whitespace (udf_pandas_scalar
# treats \x1c-\x1f as whitespace, Python's Unicode \s model), so a
# surviving U+001F means the corpus skipped normalization — fail the
# job, never mis-tokenize. The neighboring separators chr(28)-chr(30)
# are NOT reserved: they flow through as ordinary one-char symbols,
# engine-exact (round-11 in-band-delimiter sweep).
_BPE_SEP = chr(31)
_BPE_SEP_ERR = (
    "text_bpe: reserved U+001F unit separator inside a token "
    "(value-domain contract: the chr(31)-encoded segmentation "
    "would silently drop it — pre-normalize control separators "
    "to whitespace before BPE training)"
)


def _bpe_cte_chain() -> tuple[str, str, list[str]]:
    """Shared unrolled-CTE DuckDB twin of the BPE training loop: one
    pair-count + argmax + re-segment CTE trio per merge round. Returns
    (cte_sql, final_vocab_cte_name, per-round merge-row SELECTs).

    Segmentations are encoded as strings with every symbol wrapped in
    chr(31) separators ('␟a␟␟b␟…'), so applying merge rule (l, r) is
    replace('␟l␟␟r␟' → '␟lr␟') — plain left-to-right non-overlapping
    string replace, IDENTICAL semantics in both engines, and the
    double separator means adjacent occurrences never share matched
    characters (['a','a','a'] merges to ['aa','a'], leftmost-first)."""
    wrap = (
        "CASE WHEN contains(w, chr(31)) THEN error('" + _BPE_SEP_ERR
        + "') ELSE regexp_replace(w, '(?s)(.)',"
        " chr(31) || '\\1' || chr(31), 'g') END"
    )
    syms = "list_filter(string_split(s, chr(31)), x -> x <> '')"
    sql = f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM words
      WHERE length(w) >= {BPE_MIN_WORD_LEN} GROUP BY w
    ), v0 AS (
      SELECT wc, {wrap} AS s FROM vocab
    )"""
    prev = "v0"
    selects = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        sql += f""",
    pe{r} AS (
      SELECT wc, unnest([{{'l': sy[i], 'r': sy[i+1]}}
                         for i in generate_series(1, len(sy) - 1)]) AS p
      FROM (SELECT wc, {syms} AS sy FROM {prev})
    ), p{r} AS (
      SELECT p.l AS l, p.r AS r, CAST(SUM(wc) AS BIGINT) AS cnt
      FROM pe{r} GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
    ), v{r} AS (
      SELECT wc, replace(s, chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
                         chr(31)||b.l||b.r||chr(31)) AS s
      FROM {prev} CROSS JOIN p{r} b
    )"""
        prev = f"v{r}"
        selects.append(
            f"SELECT {r} AS round, l AS left_sym, r AS right_sym,"
            f" cnt AS pair_count FROM p{r}"
        )
    return sql, prev, selects


def _bpe_merge_oracle() -> str:
    sql, _, selects = _bpe_cte_chain()
    return sql + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


def _bpe_apply_oracle() -> str:
    sql, final_v, _ = _bpe_cte_chain()
    return f"""{sql}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
           CAST(SUM(wc) AS BIGINT) AS words_total,
           CAST(SUM(wc * length(replace(s, chr(31), ''))) AS BIGINT)
             AS chars_total,
           CAST(SUM(wc * len(list_filter(string_split(s, chr(31)),
                                         x -> x <> ''))) AS BIGINT)
             AS tokens_total,
           CAST(floor(1000000.0 * SUM(wc * len(list_filter(
                  string_split(s, chr(31)), x -> x <> ''))) / SUM(wc))
                AS BIGINT) AS tokens_per_word_ppm,
           CAST(floor(1000000.0 * SUM(wc * length(replace(s, chr(31), '')))
                      / SUM(wc * len(list_filter(string_split(s, chr(31)),
                                                 x -> x <> ''))))
                AS BIGINT) AS chars_per_token_ppm
    FROM {final_v}
    """


@query("text_bpe_merge_rounds", oracle=_bpe_merge_oracle())
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATED BPE tokenizer training: {BPE_MERGE_ROUNDS} full merge
    rounds — count corpus-weighted adjacent-symbol pairs over the
    current vocabulary segmentation, pick the argmax pair (ties →
    lexicographic, so the learned merge table is deterministic),
    re-segment the vocabulary by applying the merge, repeat. Output is
    the learned merge table: (round, left_sym, right_sym, pair_count).

    This proves the iteration claim text_bpe_pair_counts' docstring
    makes: the CORPUS is scanned exactly once (the word-vocabulary
    build, cached); every merge round after that touches only the
    |vocab|-row segmentation relation — pair counts are a
    partial+final aggregate over vocab, the argmax is a 1-row
    TakeOrderedAndProject, and the re-segmentation rides that single
    row back over vocab as a broadcast crossJoin (no shuffle). At
    100 TB: vocabulary is millions of rows where the corpus is
    trillions, so R merge rounds cost R vocabulary passes + one
    corpus pass — the same factoring every production BPE trainer
    (e.g. the original Sennrich implementation) uses, here as
    distributed dataframe algebra.

    Segmentations are string-encoded with each symbol wrapped in
    chr(31) ('␟a␟␟b␟…'): applying merge (l, r) is then the plain
    string replace '␟l␟␟r␟' → '␟lr␟' — left-to-right non-overlapping
    in BOTH engines (['a','a','a'] → ['aa','a'], leftmost-first), and
    the doubled separator stops adjacent matches sharing characters.
    The oracle unrolls the identical loop as chained CTEs."""
    _, merges = _bpe_train(spark, sf_dir)
    return merges.orderBy("round")


def _bpe_sy() -> F.Column:
    """Symbol array off the chr(31)-encoded segmentation column."""
    return F.filter(F.split("s", _BPE_SEP), lambda x: x != F.lit(""))


# cached chr(31)-wrapped vocabulary — shared by the merge-table and
# apply keys
_BPE_VOCAB = Memo()
# (final re-segmented vocab DataFrame, per-round merge-row tuples) —
# the TRAINED result. Round 15: the per-round argmax is a bounded
# 1-row collect (an eager job), so an unmemoized _bpe_train would
# re-run all R argmax jobs in EVERY consumer key
# (text_bpe_apply_merges AND text_bpe_merge_rounds); the memo makes
# training once-per-(session, corpus), which is also the only sane
# production shape (nobody re-trains a tokenizer per downstream
# query).
_BPE_TRAIN = Memo()


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The BPE training loop shared by the merge-table and apply keys:
    returns (final re-segmented vocabulary, merge table as one literal
    relation with a row per round that found a pair). Corpus scanned
    once (memoized cached vocab — shared across the two keys AND
    evictable, unlike a bare .cache()); each round is a vocab pair
    count → 1-row argmax → broadcast re-segmentation."""

    def _build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        vocab = (
            d.select(F.explode(tokens()).alias("w"))
            .where(F.length("w") >= BPE_MIN_WORD_LEN)
            .groupBy("w")
            .agg(F.count("*").alias("wc"))
        )
        return vocab.select(
            "wc",
            # In-band-delimiter guard first (see _BPE_SEP): a token
            # containing the reserved U+001F would silently vanish
            # from the encoded segmentation on BOTH engines. Then
            # (?s): Java's `.` excludes EVERY Unicode line terminator
            # (\r, \u0085, \u2028, \u2029) while RE2's excludes only
            # \n, so a control character inside a token silently
            # DROPPED from the Spark-side symbol sequence but not the
            # oracle's (round-10 control-chars sweep) — DOTALL makes
            # both engines wrap every character
            F.when(
                F.contains("w", F.lit(_BPE_SEP)),
                F.raise_error(F.lit(_BPE_SEP_ERR)).cast("string"),
            )
            .otherwise(
                F.regexp_replace(
                    "w", "(?s)(.)", _BPE_SEP + "$1" + _BPE_SEP
                )
            )
            .alias("s"),
        ).cache()

    # Round 15: each round's argmax is COLLECTED (one row — the
    # bounded-collect exception, same as the kmeans centroid pull)
    # and the re-segmentation applies it as literals. The previous
    # form attached the 1-row argmax via crossJoin(broadcast(top1)),
    # which embedded every earlier round's ENTIRE pair-count
    # aggregation as a nested broadcast subquery inside every later
    # round's plan — round r's argmax replayed rounds 1..r-1 before
    # it could aggregate, and text_bpe_merge_rounds' union re-ran the
    # whole pyramid once per branch. With the 1-row collect the loop
    # is the textbook sequential BPE trainer: R tiny argmax jobs over
    # a literal-replace chain on the CACHED vocab, nothing nested —
    # and because the collects are eager, the WHOLE trained result is
    # memoized per (session, corpus) so the second consumer key pays
    # zero argmax jobs (see _BPE_TRAIN). A/B + oracle evidence
    # in OPTIMIZATION_r15.md. BPE training is inherently sequential
    # in R; at 100 TB the vocab relation (the only thing scanned per
    # round) is already ≪ corpus.
    def _train() -> tuple[DataFrame, list[list[tuple]]]:
        v = _BPE_VOCAB.get(spark, sf_dir, build=_build)
        # sy[i-1]/sy[i] is 0-based element access; the filter() guard
        # yields an EMPTY index list for single-symbol words
        # (sequence(1,0) would generate a DESCENDING [1,0] — a Spark
        # footgun)
        pairs = F.explode(
            F.expr(
                "transform(filter(sequence(1, size(sy)), i -> i < size(sy)),"
                " i -> struct(sy[i-1] AS l, sy[i] AS r))"
            )
        )
        rows: list[list[tuple]] = []
        for r in range(1, BPE_MERGE_ROUNDS + 1):
            top1 = (
                v.select("wc", _bpe_sy().alias("sy"))
                .select("wc", pairs.alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.desc("cnt"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top1:
                # no pairs (empty/degenerate vocab): the old
                # crossJoin(empty) semantics emptied the vocabulary
                # and every later round's merge row — preserve both
                rows.append([])
                v = v.limit(0)
                continue
            l, rr, cnt = top1[0].l, top1[0].r, int(top1[0].cnt)
            rows.append([(r, l, rr, cnt)])
            v = v.select(
                "wc",
                F.replace(
                    F.col("s"),
                    F.lit(
                        _BPE_SEP + l + _BPE_SEP + _BPE_SEP + rr + _BPE_SEP
                    ),
                    F.lit(_BPE_SEP + l + rr + _BPE_SEP),
                ).alias("s"),
            )
        return v, rows

    v, rows = _BPE_TRAIN.get_heavy(spark, sf_dir, build=_train)
    return v, literal_rows_df(
        spark,
        [row for rs in rows for row in rs],
        "round int, left_sym string, right_sym string, pair_count bigint",
    )


@query("text_bpe_apply_merges", oracle=_bpe_apply_oracle())
def text_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE side of BPE training: apply the learned merge
    table to the vocabulary and report the corpus-weighted compression
    it buys — vocab size, total word/char/token counts, and the two
    ratios a tokenizer owner actually tracks (tokens-per-word,
    chars-per-token; ppm-quantized integers so both engines agree
    exactly).

    Shares _bpe_train verbatim with text_bpe_merge_rounds, so the
    segmentation being measured is by construction the one the learned
    merges produce. The measurement itself is one aggregate over the
    |vocab|-row re-segmented relation — no corpus re-scan (the corpus
    weighting rides the wc counts), no shuffle beyond the final 1-row
    reduce. At 100 TB this is how you'd actually evaluate a candidate
    merge table: train on the vocabulary, score compression from the
    vocabulary, never touch the raw text twice."""
    v, _ = _bpe_train(spark, sf_dir)
    stats = v.select(
        "wc",
        F.size(_bpe_sy()).cast("bigint").alias("nt"),
        F.length(F.replace(F.col("s"), F.lit(_BPE_SEP), F.lit(""))).alias(
            "nc"
        ),
    )
    agg = stats.agg(
        F.count("*").alias("n_vocab_words"),
        F.sum("wc").alias("words_total"),
        F.sum(F.col("wc") * F.col("nc")).alias("chars_total"),
        F.sum(F.col("wc") * F.col("nt")).alias("tokens_total"),
    )
    return agg.select(
        "n_vocab_words",
        "words_total",
        "chars_total",
        "tokens_total",
        F.floor(F.lit(1000000.0) * F.col("tokens_total") / F.col("words_total"))
        .cast("bigint")
        .alias("tokens_per_word_ppm"),
        F.floor(F.lit(1000000.0) * F.col("chars_total") / F.col("tokens_total"))
        .cast("bigint")
        .alias("chars_per_token_ppm"),
    )


HASH_FEATURE_BUCKETS = 64


@query(
    "text_hashing_features",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               % {HASH_FEATURE_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM per_doc GROUP BY bucket
    """,
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the fixed-width sparse feature
    vector classic ML pipelines feed to linear models / GBMs without a
    vocabulary pass): every token maps to one of
    {HASH_FEATURE_BUCKETS} buckets by md5, and each document's feature
    vector is its per-bucket token counts. The CHECKED output is the
    feature matrix's per-column statistics (total mass, document
    frequency, max per-doc count) — 64 rows that can only be right if
    every per-(doc, bucket) cell underneath is right.

    Scale design: no vocabulary is ever built or broadcast — that is
    the entire point of the hashing trick, and why it survives any
    corpus size where a dictionary-based featurizer needs a giant
    dictionary join. Two hash aggregations end to end (doc×bucket,
    then bucket), both partial+final, both on bounded-cardinality
    keys; the token hash is md5-derived (top 8 hex chars → int, mod
    {HASH_FEATURE_BUCKETS}) so both engines bucket identically, the
    same cross-engine idiom the SimHash family proves. All-integer
    output, bit-exact at any parallelism."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("tok"))
    bucket = F.expr(
        f"cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"
        f" % {HASH_FEATURE_BUCKETS}"
    ).alias("bucket")
    per_doc = toks.groupBy("doc_id", bucket).agg(F.count("*").alias("tf"))
    return per_doc.groupBy("bucket").agg(
        F.sum("tf").alias("total_tf"),
        F.count("*").alias("n_docs"),
        F.max("tf").alias("max_tf"),
    )


COOC_WINDOW = 5  # skip-gram radius: pair (i, j) counted when j - i <= 5
COOC_TOPK = 50


@query(
    "text_cooccurrence_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
      SELECT doc_id, unnest(ts) AS tok,
             CAST(generate_subscripts(ts, 1) AS INT) AS i
      FROM toks
    ),
    probes AS (
      SELECT doc_id, tok, i + ds.d AS j
      FROM pos
      CROSS JOIN (SELECT UNNEST(generate_series(1, {COOC_WINDOW})) AS d) ds
    ),
    pairs AS (
      -- plain-column composite equi-join on (doc_id, j=i): the
      -- i-window form hash-joins on doc_id alone and post-filters,
      -- pairing each doc with itself first — quadratic per doc (one
      -- 100k-token document makes 10^10 candidates; 42 s, and 349 s
      -- when the offset is computed INSIDE the join condition —
      -- round-9 giant-doc sweep); materialising j makes it a linear
      -- tokens x window probe (0.5 s)
      SELECT least(p1.tok, p2.tok) AS a, greatest(p1.tok, p2.tok) AS b
      FROM probes p1 JOIN pos p2
        ON p1.doc_id = p2.doc_id AND p2.i = p1.j
    ),
    counted AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_cooc FROM pairs GROUP BY a, b
    )
    SELECT a, b, n_cooc,
           CAST(row_number() OVER (ORDER BY n_cooc DESC, a, b) AS BIGINT)
             AS rnk
    FROM counted
    ORDER BY n_cooc DESC, a, b LIMIT {COOC_TOPK}
    """,
)
def text_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window ≤ {COOC_WINDOW} tokens,
    unordered canonical pairs) with a global top-k — the word2vec /
    GloVe preprocessing pass: the counted pair matrix IS the training
    signal those embedding models factorize.

    Scale design: pair generation is an IN-ROW nested-sequence
    transform over each document's token array (codegen, bounded by
    doc_len·window per doc) — never a position self-join, which at
    100 TB would shuffle every token row twice and explode on long
    documents (the oracle uses the self-join formulation precisely
    because it is the readable quadratic-in-window mirror at test
    scale). The count is one partial+final aggregation on the pair
    key; the top-k compiles to TakeOrderedAndProject (bounded heap per
    partition + single merge, never a global sort). Ties are fully
    ordered by (count DESC, a, b), so the k-prefix is deterministic
    across engines and layouts."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ts = d.select(tokens().alias("ts")).where(F.size("ts") >= 2)
    pair = F.expr(
        f"""
        flatten(transform(sequence(1, size(ts) - 1), i ->
          transform(sequence(i + 1, least(i + {COOC_WINDOW}, size(ts))), j ->
            struct(least(ts[i-1], ts[j-1]) AS a,
                   greatest(ts[i-1], ts[j-1]) AS b))))
        """
    )
    counted = (
        ts.select(F.explode(pair).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n_cooc"))
    )
    w = Window.orderBy(F.col("n_cooc").desc(), "a", "b")
    return (
        counted.orderBy(F.col("n_cooc").desc(), "a", "b")
        .limit(COOC_TOPK)
        .withColumn("rnk", F.row_number().over(w))
    )


FUNNEL_MIN_CHARS = 50
FUNNEL_MIN_ALPHA = 0.6
FUNNEL_MIN_WORDS = 10
FUNNEL_MIN_DISTINCT = 0.3


@query(
    "text_filter_funnel",
    oracle=f"""
    WITH flags AS (
      SELECT
        (text IS NOT NULL AND length(text) >= {FUNNEL_MIN_CHARS}) AS f_len,
        (text IS NOT NULL AND length(text) > 0
         AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
             / length(text) >= {FUNNEL_MIN_ALPHA}) AS f_alpha,
        (text IS NOT NULL
         AND len(string_split(text, ' ')) >= {FUNNEL_MIN_WORDS}) AS f_words,
        (text IS NOT NULL AND len(string_split(text, ' ')) > 0
         AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) >= {FUNNEL_MIN_DISTINCT})
          AS f_rep
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(CASE WHEN f_len THEN 1 END) AS BIGINT) AS n_minlen,
           CAST(COUNT(CASE WHEN f_len AND f_alpha THEN 1 END) AS BIGINT)
             AS n_alpha,
           CAST(COUNT(CASE WHEN f_len AND f_alpha AND f_words THEN 1 END)
                AS BIGINT) AS n_minwords,
           CAST(COUNT(CASE WHEN f_len AND f_alpha AND f_words AND f_rep
                      THEN 1 END) AS BIGINT) AS n_lowrep
    FROM flags
    """,
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-curation funnel telemetry: how many documents survive each
    CUMULATIVE quality-filter stage (min length → alphabetic ratio →
    min word count → distinct-token ratio) — the report every corpus
    curation pipeline publishes before training, and the first thing
    to diff when a filter change tanks downstream eval.

    All four predicates are conjunctions evaluated in ONE pass as
    conditional counts (no per-stage scans, no materialized
    intermediate corpora); the ratio thresholds are compared in
    identically-built double expressions off integer lengths, so the
    booleans agree bit-exactly across engines. At 100 TB this is a
    single scan + a 5-number aggregate — the funnel costs nothing
    beyond the read."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    toks = F.split(t, " ")
    f_len = t.isNotNull() & (F.length(t) >= FUNNEL_MIN_CHARS)
    f_alpha = (
        t.isNotNull()
        & (F.length(t) > 0)
        & (
            F.length(F.regexp_replace(t, "[^a-z]", "")).cast("double")
            / F.length(t)
            >= FUNNEL_MIN_ALPHA
        )
    )
    f_words = t.isNotNull() & (F.size(toks) >= FUNNEL_MIN_WORDS)
    f_rep = (
        t.isNotNull()
        & (F.size(toks) > 0)
        & (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            >= FUNNEL_MIN_DISTINCT
        )
    )
    return d.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(f_len, 1)).alias("n_minlen"),
        F.count(F.when(f_len & f_alpha, 1)).alias("n_alpha"),
        F.count(F.when(f_len & f_alpha & f_words, 1)).alias("n_minwords"),
        F.count(F.when(f_len & f_alpha & f_words & f_rep, 1)).alias(
            "n_lowrep"
        ),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS (
      -- single-index concat, NOT array_to_string(toks[i:i+2]): the
      -- in-lambda list SLICE copies O(len) per gram — quadratic per
      -- doc, 467 s for one 100k-token document (round-9 giant-doc
      -- sweep); element access is O(1)
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
               AS g
      FROM t
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM grams gr JOIN firsts f ON f.g = gr.g
    GROUP BY gr.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document content novelty — what fraction of a document's
    distinct 3-grams appear HERE FIRST (attributed by lowest doc_id),
    the marginal-value curve of a growing corpus: a crawl shard whose
    novelty ppm collapses is re-collecting text the dataset already
    has, the aggregate signal behind dataset-growth deduplication
    decisions (complements text_span_dedup's "how much is copied" with
    "who contributed it first").

    Scale shape: one in-row distinct-3-gram transform per doc (token
    array bound once via the single-element-array lambda — the
    contamination-check trick), grams xxhash64'd to int64 at
    formation so the first-occurrence groupBy and the join-back both
    shuffle 8-byte keys; per-doc output. The oracle runs the same
    attribution over raw gram strings — only per-doc counts are
    compared, so the ~1e-9 hash-collision odds never surface. MIN as
    the attribution rule makes the result order- and layout-free."""
    d = load(spark, sf_dir, "documents").where(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')),"
                " t -> array_distinct(transform(sequence(1, size(t) - 2),"
                "   i -> xxhash64(array_join(slice(t, i, 3), ' ')))))[0]"
            )
        ).alias("h"),
    ).repartition(default_parallelism(), "h")
    # explicit h-partitioning: both consumers (first-occurrence
    # groupBy, join-back) are shuffle-free on their key downstream,
    # and the two identical explode→exchange subtrees are candidates
    # for AQE's runtime stage reuse (the STATIC plan prints both —
    # same accepted shape as text_span_dedup's span relation)
    firsts = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        grams.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            novel.alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("CAST(n_novel * 1000000 div n_grams AS BIGINT)"),
        )
    )


AFFIX_K = 3  # affix width in tokens (corpus-calibrated: the synthetic
# docs are short near-dup families, so longer affixes match nothing
# and the key would be vacuously green; a real crawl would use 32-64)


@query(
    "text_affix_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= {AFFIX_K}
    ),
    pre AS (
      SELECT doc_id, array_to_string(toks[1:{AFFIX_K}], ' ') AS affix
      FROM t
    ),
    suf AS (
      SELECT doc_id, array_to_string(toks[-{AFFIX_K}:], ' ') AS affix
      FROM t
    )
    SELECT s.doc_id AS suffix_doc, p.doc_id AS prefix_doc
    FROM suf s JOIN pre p
      ON s.affix = p.affix AND s.doc_id <> p.doc_id
    """,
)
def text_affix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-stitching detector: pairs (a, b) where a's LAST
    AFFIX_K tokens equal b's FIRST AFFIX_K tokens — the signature of
    chunked re-assembly artifacts (a crawl that split one page into
    overlapping records, or concatenated shards duplicating their
    seam), which Jaccard/MinHash dedup misses because the documents
    as wholes are dissimilar.

    Scale shape: each doc contributes ONE prefix key and ONE suffix
    key (in-row slice + hash — no per-token explode), and the
    detector is a single equi-join on the affix hash: nothing is
    pairwise in the corpus, candidates are exactly the hash-equal
    seams. Affixes are xxhash64'd so the join shuffles 8-byte keys;
    the oracle joins raw affix strings (collision odds ~1e-9). Output
    is the seam pair list downstream chunk-merging consumes."""
    d = load(spark, sf_dir, "documents").where(
        F.size(F.split(F.col("text"), " ")) >= AFFIX_K
    )
    toks = F.split(F.col("text"), " ")
    pre = d.select(
        F.col("doc_id").alias("prefix_doc"),
        F.xxhash64(
            F.array_join(F.slice(toks, 1, AFFIX_K), " ")
        ).alias("h"),
    )
    suf = d.select(
        F.col("doc_id").alias("suffix_doc"),
        F.xxhash64(
            F.array_join(F.slice(toks, -AFFIX_K, AFFIX_K), " ")
        ).alias("h"),
    )
    return (
        suf.join(pre, "h")
        .where(F.col("suffix_doc") != F.col("prefix_doc"))
        .select("suffix_doc", "prefix_doc")
    )


def _langid_confusion_oracle() -> str:
    from ..registry import REGISTRY

    base = REGISTRY["text_langid"].oracle
    return f"""
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM ({base})
    GROUP BY lang, predicted
    """


@query("text_langid_confusion", oracle=_langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the eval that belongs next to
    any classifier: observed label × predicted label × count over the
    whole corpus, the table precision/recall/'which languages bleed
    into which' all read off from. Reuses text_langid's scoring
    relation verbatim (and its ORACLE verbatim — the confusion oracle
    is literally a GROUP BY wrapped around the langid oracle, so the
    two keys cannot drift apart); the matrix aggregation adds one
    ≤|langs|²-row partial+final count on top of the scan."""
    return (
        text_langid(spark, sf_dir)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


# Fixed-window chunking geometry: 32-token windows advancing by 24
# (8-token overlap). The numbers are corpus-scale test values; the
# shape is the production RAG/pretraining chunker — overlap preserves
# context across window seams, the affix-overlap detector above is
# its seam-dedup counterpart.
CHUNK_TOKS = 32
CHUNK_STRIDE = 24


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text IS NOT NULL
    ), ix AS (
      SELECT doc_id, n, toks,
             unnest(generate_series(0,
               CASE WHEN n <= {CHUNK_TOKS} THEN 0
                    ELSE (n - {CHUNK_TOKS} + {CHUNK_STRIDE} - 1)
                         // {CHUNK_STRIDE} END)) AS i
      FROM d
    ), c AS (
      SELECT doc_id, n, toks,
             CAST(i AS INTEGER) AS chunk_idx,
             i * {CHUNK_STRIDE} + 1 AS start_tok
      FROM ix
    )
    SELECT doc_id, chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least({CHUNK_TOKS}, n - start_tok + 1) AS INTEGER)
             AS n_toks,
           md5(array_to_string(
                 list_slice(toks, start_tok,
                            least(start_tok + {CHUNK_TOKS} - 1, n)),
                 ' ')) AS chunk_md5
    FROM c
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking — the RAG / pretraining
    staple the registry lacked: every document becomes
    ``ceil((n - size)/stride) + 1`` windows of 32 (CHUNK_TOKS) tokens
    advancing by 24 (CHUNK_STRIDE) (so consecutive chunks share
    ``size - stride`` tokens of context), the final window keeping
    its natural short tail. Output is the chunk manifest a downstream
    embedder or packer consumes: (doc_id, chunk_idx, start_tok,
    n_toks, chunk_md5), with the md5 over the space-joined window
    giving a content address for chunk-level dedup and cache keys
    (both engines render identical lowercase hex).

    The chunk count uses pure INTEGER arithmetic
    (``(n - size + stride - 1) div stride``) — float ceil would be
    engine-identical here but the integer spelling cannot rot.

    Scale: the window index list is generated IN-ROW
    (``sequence`` → ``transform`` → one Generate) and every output
    column is an in-row slice off the token array — zero exchanges,
    zero joins, perfectly scan-parallel; output size is
    ~n_tokens/stride rows per doc, the minimum any chunker can emit.
    The plan is a single WholeStageCodegen span over the parquet
    scan (asserted in tests/test_plans.py). NULL texts are excluded
    on both sides (``split(NULL)`` has no window semantics); empty
    string is one 1-token chunk — the split-of-'' convention shared
    with the tokenizer family."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    d = d.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    n_chunks = F.when(
        F.col("n") <= CHUNK_TOKS, F.lit(1)
    ).otherwise(
        F.expr(
            f"(n - {CHUNK_TOKS} + {CHUNK_STRIDE} - 1)"
            f" div {CHUNK_STRIDE}"
        ).cast("int")
        + 1
    )
    c = d.select(
        "doc_id",
        "n",
        "toks",
        F.explode(
            F.sequence(F.lit(0), n_chunks - 1)
        ).alias("chunk_idx"),
    ).withColumn(
        "start_tok", (F.col("chunk_idx").cast("bigint") * CHUNK_STRIDE + 1)
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.least(F.lit(CHUNK_TOKS), F.col("n") - F.col("start_tok") + 1)
        .cast("int")
        .alias("n_toks"),
        F.md5(
            F.array_join(
                F.slice(
                    "toks",
                    F.col("start_tok").cast("int"),
                    F.least(
                        F.lit(CHUNK_TOKS),
                        (F.col("n") - F.col("start_tok") + 1).cast("int"),
                    ),
                ),
                " ",
            )
        ).alias("chunk_md5"),
    )


def _chunk_dedup_oracle() -> str:
    from ..registry import REGISTRY

    base = REGISTRY["text_chunk_overlap"].oracle
    return f"""
    SELECT chunk_md5,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc,
           CAST(MIN(n_toks) AS INTEGER) AS n_toks
    FROM ({base})
    WHERE n_toks = {CHUNK_TOKS}
    GROUP BY chunk_md5
    HAVING COUNT(*) > 1
    """


@query("dedup_chunk_exact", oracle=_chunk_dedup_oracle())
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the repeated-passage / boilerplate
    detector (the C4-and-successors pipeline step that whole-document
    dedup misses): group the chunk manifest by content address and
    report every window occurring more than once, with its occurrence
    count, distinct-document spread, and first carrier. Only
    FULL-width windows participate (32 = CHUNK_TOKS tokens) — short
    tails are length-biased and would flood the spectrum with
    trivially-equal fragments; the WHERE mirrors in the oracle, which
    is literally a GROUP BY wrapped around text_chunk_overlap's
    oracle (the two keys cannot drift apart — the
    text_langid_confusion composition rule).

    Scale: the manifest is zero-shuffle (see text_chunk_overlap);
    this adds exactly ONE exchange on the 16-byte-hex chunk_md5 with
    map-side partial counts, and the HAVING keeps only true repeats —
    output is the boilerplate table a filtering pass broadcast-joins
    against. Nothing is pairwise; identical passages meet in the
    hash bucket, the dedup_exact argument at chunk granularity."""
    m = text_chunk_overlap(spark, sf_dir).where(
        F.col("n_toks") == CHUNK_TOKS
    )
    return (
        m.groupBy("chunk_md5")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.min("n_toks").alias("n_toks"),
        )
        .where(F.col("n_occurrences") > 1)
    )
