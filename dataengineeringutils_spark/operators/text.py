"""Text-analysis operators for training-data pipelines (B46-B47 + extras).

- ``text_wordcount``     token frequencies, top-20.
- ``text_lang_stats``    per-language corpus statistics.
- ``text_quality_score`` per-document quality features (length, TTR,
                         stopword ratio, mean token length).
- ``text_langid``        rule-based language-ID heuristic (marker scoring).
- ``text_fingerprint``   content fingerprint (md5 over the sorted distinct
                         token set) -> cluster counts per source.
- ``text_token_counts``  whitespace vs BPE-ish regex token counting.

Everything is built-in string/array expressions (JVM codegen, no Python);
ratios are exact rationals (int/int double division) so every op carries a
full DuckDB oracle. Per-doc ops shuffle nothing; aggregations are partial
-> final hash aggs on low-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataengineeringutils_spark.operators.dedup import (
    shingle_rows,
    tokens_col,
)
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import spread, table

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for")


@query(
    "text_wordcount",
    oracle="""
    SELECT tok AS word, COUNT(*) AS n
    FROM (
        SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents
    )
    GROUP BY tok
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B46: top-20 tokens (count desc, word asc tie-break)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
                AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B47: per-language doc count, mean chars, mean token count
    (exact integer sums -> one double division)."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col()).cast("long")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        (F.sum(n_tokens).cast("double") / F.count("*")).alias("avg_tokens"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
           CAST(len(list_filter(toks,
               t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / len(toks) AS mean_token_len
    FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
        WHERE doc_id < 100
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features per document: token count, type-token ratio,
    stopword ratio, mean token length — all exact rationals."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = tokens_col()
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        (n_distinct.cast("double") / n_tokens).alias("ttr"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (len_sum.cast("double") / n_tokens).alias("mean_token_len"),
    )


@query(
    "text_langid",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               lang,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the','fast','key'], t))) AS s_en,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['table','scan','merge'], t))) AS s_de,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['order','sort','value'], t))) AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_fr THEN 'de'
                    ELSE 'fr' END AS predicted
        FROM scored
    )
    SELECT predicted,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (predicted = lang) AS n_correct
    FROM pred
    GROUP BY predicted
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language-ID: score each doc against per-language marker
    token lists, argmax with a fixed precedence tie-break. (A real n-gram
    profile model is the same plan shape: per-doc feature extraction ->
    argmax; markers stand in because the fixture vocabulary is synthetic.)
    """
    d = table(spark, sf_dir, "documents")
    toks = tokens_col()

    def score(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scored = d.select(
        "doc_id",
        "lang",
        score(("the", "fast", "key")).alias("s_en"),
        score(("table", "scan", "merge")).alias("s_de"),
        score(("order", "sort", "value")).alias("s_fr"),
    )
    predicted = (
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_fr")), "en")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return (
        scored.select("lang", predicted.alias("predicted"))
        .groupBy("predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("predicted") == F.col("lang")).cast("long")).alias("n_correct"),
        )
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT source,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(text, ' '), t -> t <> ''))), ' ')) AS fingerprint
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fingerprint) AS n_fingerprints
    FROM fp
    GROUP BY source
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the sorted distinct token set
    (identical hex in both engines). n_docs > n_fingerprints per source
    reveals bag-of-words duplicates."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col()))))
    return (
        d.select("source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_fingerprints"),
        )
    )


@query(
    "text_token_counts",
    oracle="""
    SELECT source,
           SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS ws_tokens,
           SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS re_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-ish regex
    ([a-z]+|[0-9]+ word pieces), summed per source."""
    d = table(spark, sf_dir, "documents")
    ws = F.size(tokens_col()).cast("long")
    re_toks = F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), F.lit(0))).cast("long")
    return d.groupBy("source").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(re_toks).alias("re_tokens"),
    )


@query(
    "text_bigrams",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (
        SELECT toks[i] || ' ' || toks[i + 1] AS bigram
        FROM (
            SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ), UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token bigrams (count desc, bigram asc tie-break).

    Bigrams form via posexplode + window ``lead`` — the codegen n-gram
    shape shared with the dedup shingles (see
    ``dedup.shingle_rows``), not an interpreted array lambda.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(tokens_col()).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("bigram"),
        F.lead("tok", 1).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return (
        bi.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT lang, tok, COUNT(*) AS tf FROM toks GROUP BY lang, tok
    ),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.lang, tf.tok,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT lang, tok, score
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY score DESC, tok ASC) <= 5
    ORDER BY lang, score DESC, tok
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language (tf x ln(N/df), deterministic
    tie-break).

    One explode feeds both the per-(lang, token) TF agg and the
    corpus-wide DF agg; both are partial->final hash aggs on the token.
    The DF side collapses to |vocab| rows, so the tf-df join shuffles
    on token with AQE free to broadcast the smaller side. N is a scalar
    cross join (broadcast by construction). At 100 TB the explode
    dominates — it pipelines inside the scan stage with no shuffle of
    raw text.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(tokens_col()).alias("tok")
    )
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "tok").select(
        "lang",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", F.col("score").desc(), "tok")
    )


@query(
    "text_ngram_profile",
    oracle="""
    WITH grams AS (
        SELECT lang, substr(text, u.i, 3) AS gram
        FROM documents, LATERAL UNNEST(range(1, len(text) - 1)) AS u(i)
        WHERE len(text) >= 3
    )
    SELECT lang, gram, COUNT(*) AS n
    FROM grams
    GROUP BY lang, gram
    QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY n DESC, gram ASC) <= 10
    ORDER BY lang, n DESC, gram
    """,
)
def text_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the classic langid
    feature profile (the n-gram tables behind ``text_langid``, computed
    from the corpus itself).

    Explode positions 1..len-2 and substring — a codegen generate, no
    interpreted array lambdas (see dedup.py shingles for why). The gram
    agg is partial->final on (lang, gram); the per-lang top-10 runs
    under WindowGroupLimit. At 100 TB the explode multiplies rows by
    ~doc length — it pipelines inside the scan stage, and the map-side
    combine collapses to |lang|x|gram| before any shuffle. The fixture
    is ONE parquet file (one scan partition), so the |chars|-row fan-out
    would run on a single core — spread the docs first (size-gated:
    identity on a multi-split table; see ``tables.spread``).
    """
    d = spread(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    grams = (
        d.select("lang", "text", F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"))
        .select("lang", F.expr("substring(text, i, 3)").alias("gram"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram").asc())
    return (
        grams.groupBy("lang", "gram")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", F.col("n").desc(), "gram")
    )


@query(
    "text_pii_redact",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS docs_with_hits,
           SUM(n_hits) AS total_redactions,
           SUM(length(text) - length(redacted)) AS chars_delta
    FROM (
        SELECT lang, text,
               regexp_replace(text, '\\b(key|hash)\\b', '[REDACTED]', 'g')
                   AS redacted,
               length(regexp_extract_all(text, '\\b(key|hash)\\b')) AS n_hits
        FROM documents
    ) r
    GROUP BY lang
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction over the corpus with an audit rollup per language.

    The PII-scrub stage of a training-data pipeline: every document is
    rewritten with denylisted patterns replaced, and the op emits the
    audit counts (documents touched, total redactions, characters
    removed) that a compliance report needs. The term lexicon here
    stands in for the production patterns (emails, phone numbers, SSNs —
    same ``regexp_replace`` shape, different regex). Everything is
    codegen'd JVM regex on the scan — no Python, no shuffle until the
    per-language rollup of 5 groups; at 100 TB the rewrite streams
    through the scan and the audit aggregate is map-side-combined to
    |langs| rows. The negative (chars_delta < 0) is expected: the
    replacement token is longer than the terms it replaces.
    """
    pat = r"\b(key|hash)\b"
    d = table(spark, sf_dir, "documents")
    r = d.select(
        "lang",
        "text",
        F.regexp_replace("text", pat, "[REDACTED]").alias("redacted"),
        F.regexp_count("text", F.lit(pat)).alias("n_hits"),
    )
    return r.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0)).alias(
            "docs_with_hits"
        ),
        F.sum("n_hits").alias("total_redactions"),
        F.sum(F.length("text") - F.length("redacted")).alias("chars_delta"),
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               length(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0)
                   AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           SUM(n_tokens) AS total_tokens
    FROM packed
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed-budget
    context bins (2048 whitespace tokens) per source shard.

    The pretraining batch-packing shape: documents are packed in a
    deterministic order (doc_id within source) and a document opens bin k
    when the tokens packed BEFORE it fill k whole budgets — a pure
    running-sum window, no sequential driver loop, parallel across
    sources (shards). This is streaming-order packing, not bin-packing
    optimality: the same contract a distributed packer can honor at
    100 TB, where each shard packs independently and bin ids offset by
    shard. Token counts are whitespace-split sizes (same codegen
    split/filter both engines).

    The running token sum is TWO-PHASE (windows.keyed_two_phase):
    ``source`` has a handful of values, so the naive keyed window would
    sort a whole source on one task; doc_id range cuts bound every
    sorting partition and broadcast offsets carry the cross-bucket
    token totals — exact integer sums throughout.
    """
    from dataengineeringutils_spark.operators.windows import (
        bucket_expr,
        keyed_two_phase,
        sampled_cuts,
        table_rows,
    )

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast(
            "long"
        ).alias("n_tokens"),
    )
    cuts = sampled_cuts(spark, sf_dir, "doc_id_cuts", d, "doc_id")
    packed = keyed_two_phase(
        toks.withColumn("bkt", bucket_expr(F.col("doc_id"), cuts)),
        ["source"],
        [F.col("doc_id").asc()],
        "__cum",
        weight=F.col("n_tokens"),
        n_rows=table_rows(spark, sf_dir, "documents"),
    ).withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / 2048.0),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source", "bin_id")
    )


CONTAM_N = 5  # n-gram length for decontamination overlap
BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 -> held-out "benchmark" set


@query(
    "text_contamination_ngram",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               doc_id % {BENCH_MOD} = 0 AS is_bench,
               UNNEST(list_distinct(list_transform(
                   range(1, greatest(len(toks) - {CONTAM_N - 1}, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS g
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        )
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM grams c
        JOIN grams b ON c.g = b.g AND b.is_bench AND NOT c.is_bench
    )
    SELECT d.lang,
           COUNT(*) FILTER (d.doc_id % {BENCH_MOD} <> 0) AS n_corpus,
           COUNT(*) FILTER (x.doc_id IS NOT NULL) AS n_contaminated
    FROM documents d
    LEFT JOIN contaminated x ON d.doc_id = x.doc_id
    GROUP BY d.lang
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check: flag corpus documents sharing any
    5-gram with the held-out benchmark slice (doc_id % 97 == 0) — the
    overlap audit every serious LLM data pipeline runs before training.

    Same blocking shape as the dedup family: hashed n-grams ARE the join
    key (benchmark side is tiny, so the gram join is broadcast); corpus
    grams never shuffle. Counts roll up per language for the report.
    """
    d = spread(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(tokens_col()).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, CONTAM_N)]
    grams = (
        toks.select("doc_id", "tok", *lead_cols)
        .filter(F.col(f"t{CONTAM_N - 1}").isNotNull())
        .select(
            "doc_id",
            F.xxhash64("tok", *[f"t{i}" for i in range(1, CONTAM_N)]).alias("g"),
        )
        .distinct()
    )
    bench = grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("g").distinct()
    corpus = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    contaminated = (
        corpus.join(F.broadcast(bench), "g").select("doc_id").distinct()
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    flagged = docs.join(
        contaminated.withColumnRenamed("doc_id", "c_id"),
        docs.doc_id == F.col("c_id"),
        "left",
    )
    return flagged.groupBy("lang").agg(
        F.sum((F.col("doc_id") % BENCH_MOD != 0).cast("long")).alias("n_corpus"),
        F.sum(F.col("c_id").isNotNull().cast("long")).alias("n_contaminated"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ),
    totals AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq),
    per_doc AS (
        SELECT t.doc_id,
               ROUND(AVG(ln(f.c / (SELECT n FROM totals))), 4) AS lp
        FROM tok t JOIN freq f ON t.tok = f.tok
        GROUP BY t.doc_id
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(p.lp AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_logprob
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram language-model scoring: each document's mean
    token log-probability under the corpus unigram distribution — the
    cheap perplexity proxy used to quality-rank raw text before training.

    One token explode feeds BOTH the frequency table and the per-doc
    average (exchange reuse); per-doc scores round to 4 dp and roll up
    as exact DECIMAL sums so the cross-engine hash cannot wobble on
    float merge order.
    """
    d = spread(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4).alias("lp"))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scored.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("lp").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_logprob"),
        )
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (
        SELECT t, COUNT(*) AS f FROM tok WHERE t <> '' GROUP BY t
    ),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t ASC) AS r FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(f) AS BIGINT) AS total_tokens,
           ROUND(regr_slope(ln(f), ln(r)), 6) AS zipf_slope
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B214: Zipf's-law fit over the corpus token distribution — the
    slope of ln(frequency) vs ln(rank) via least squares. Natural text
    sits near -1; a corpus that drifts far from its expected slope after
    filtering/dedup signals a broken pipeline stage (boilerplate
    explosion, vocabulary collapse), so this is a standard corpus-health
    diagnostic.

    One explode -> one hash agg collapses the corpus to |vocab| rows.
    The rank is then synthesized WITHOUT ANY WINDOW (round-5 VERDICT
    #1): the slope only needs the MULTISET of (f, rank) pairs, and
    tokens sharing a frequency occupy a contiguous rank run whatever
    the tie order — so collapse to run-length form (distinct f →
    count), prefix-scan the run offsets on the driver (distinct
    frequencies are ≤ √(2·total_tokens) by the counting bound — a few
    thousand at any scale), and regenerate ranks distributively with a
    two-level sequence explode (runs chunk into ≤64k-rank slices,
    slices round-robin across the cluster, so the f=1 run — half the
    vocab — fans out instead of landing on one task). regr_slope is a
    single mergeable moment aggregate over the regenerated pairs,
    arithmetically identical to ranking every token.
    """
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("f"))
    )
    runs = sorted(
        freq.groupBy("f").agg(F.count("*").alias("cnt")).collect(),
        key=lambda r: -r["f"],
    )
    data, off = [], 0
    for r in runs:
        data.append((r["f"], off, r["cnt"]))
        off += r["cnt"]
    runs_df = spark.createDataFrame(data, "f long, off long, cnt long")
    chunk = 65536
    par = spark.sparkContext.defaultParallelism
    slices = runs_df.select(
        "f",
        "off",
        "cnt",
        F.explode(
            F.sequence(F.lit(0), ((F.col("cnt") - 1) / chunk).cast("long"))
        ).alias("ci"),
    ).repartition(par)
    ranked = slices.select(
        "f",
        F.explode(
            F.sequence(
                F.col("off") + F.col("ci") * chunk + 1,
                F.least(
                    F.col("off") + F.col("cnt"),
                    F.col("off") + (F.col("ci") + 1) * chunk,
                ),
            )
        ).alias("r"),
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum("f").cast("bigint").alias("total_tokens"),
        F.round(F.regr_slope(F.log("f"), F.log("r")), 6).alias("zipf_slope"),
    )


@query(
    "text_char_diversity",
    oracle="""
    WITH chars AS (
        SELECT doc_id, UNNEST(string_split_regex(text, '')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS c
        FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars_total,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c))
               AS char_gini_impurity
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality signal: per-doc Gini impurity of the
    character distribution (1 − Σp²) plus distinct-char count — the
    cheap screen for degenerate documents (single-char floods, binary
    junk, encoding loops) that every corpus-ingest pipeline runs before
    anything tokenizes.

    Impurity over ENTROPY deliberately: Σp² is an exact integer rational
    (Σc² / (Σc)²) — bit-identical on every engine with a single final
    double division — where entropy's per-term log2 rides each libm's
    last-ulp behavior. Plan: explode → per-(doc,char) count → per-doc
    agg; both shuffles hash on doc_id (high cardinality, even).
    """
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_chars_total"),
            F.count("*").cast("bigint").alias("n_distinct_chars"),
            (
                F.lit(1.0)
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c") * F.sum("c"))
            ).alias("char_gini_impurity"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        )
    ),
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(CASE WHEN df.df = 1 THEN 1 END) AS BIGINT)
               AS n_unique_to_doc,
           CAST(COUNT(CASE WHEN df.df = 1 THEN 1 END) AS DOUBLE) / COUNT(*)
               AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's distinct
    3-gram shingles that appear in NO other document — high novelty
    marks original content, low novelty marks boilerplate/template text;
    the ranking signal used to pick survivors and weight repeated text
    down in a training mix (complements dedup: novelty grades docs the
    near-dup pass keeps).

    Rides the session-cached shingle table: document frequency is one
    hash agg over it, joined back on the shingle hash (the join key IS
    the blocking key — both sides partition identically, one exchange
    each); per-doc rollup is an exact integer rational.
    """
    sh = shingle_rows(spark, sf_dir)
    df_tbl = sh.groupBy("s").agg(F.count("*").alias("df"))
    j = sh.join(df_tbl, "s")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).cast("bigint").alias(
                "n_unique_to_doc"
            ),
            (
                F.sum((F.col("df") == 1).cast("long")).cast("double")
                / F.count("*")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               greatest(len(tk) - 2, 0) AS n_total,
               len(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 2, 0) + 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
                   AS n_distinct
        FROM toks
    )
    SELECT doc_id,
           CAST(n_total AS BIGINT) AS n_trigrams,
           CAST(n_total - n_distinct AS BIGINT) AS n_repeated,
           CASE WHEN n_total > 0
                THEN CAST(n_total - n_distinct AS DOUBLE) / n_total
                ELSE 0.0 END AS repetition
    FROM tri ORDER BY doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition: the share of a doc's trigram slots
    occupied by a trigram already seen in the SAME doc — the
    Gopher-style "repeated n-gram" degeneracy filter that catches
    looping generations and copy-pasted boilerplate before training.

    Entirely per-row array arithmetic (no explode, no shuffle): total
    trigram slots from token count, distinct trigrams via an in-array
    transform+distinct. Lambdas evaluate interpreted, but only over one
    doc's tokens at a time — the measured rule is lambdas on SMALL
    arrays are fine; corpora scale by adding rows, not array length.
    """
    # spread: the zip_with chains below are the op's whole cost
    # and evaluate in the scan stage — one task on the single-row-group
    # fixture file (and TWICE: the orderBy's range sampler evaluates the
    # projection too). Spreading raw text across cores first parallelizes
    # both passes (guide §2 stragglers).
    d = spread(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("tk")
    )
    tk = F.col("tk")
    n_total = F.greatest(F.size(tk) - 2, F.lit(0))
    # O(n) trigram build: zip the token array with its 1- and 2-shifted
    # slices (an indexed-lambda element_at formulation re-walks the
    # array per element — measured 21 s vs <1 s at sf0.1). The zip pads
    # the tail with nulls; slicing to n_total drops those entries.
    s2 = F.slice(tk, 2, F.size(tk))
    s3 = F.slice(tk, 3, F.size(tk))
    pair = F.zip_with(tk, s2, lambda x, y: F.concat_ws(" ", x, y))
    tri_all = F.zip_with(pair, s3, lambda p, z: F.concat_ws(" ", p, z))
    tri = F.array_distinct(F.slice(tri_all, 1, n_total))
    n_distinct = F.size(tri)
    rep = F.when(
        n_total > 0,
        (n_total - n_distinct).cast("double") / n_total,
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_total.cast("bigint").alias("n_trigrams"),
        (n_total - n_distinct).cast("bigint").alias("n_repeated"),
        rep.alias("repetition"),
    ).orderBy("doc_id")


@query(
    "text_gopher_rules",
    oracle="""
    WITH feats AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_words,
               CAST(list_sum(list_transform(
                   list_filter(string_split(text, ' '), t -> t <> ''),
                   t -> length(t))) AS DOUBLE)
                   / len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS mean_wlen,
               CAST(length(text)
                    - length(replace(replace(text, ' ', ''), 'e', ''))
                    AS DOUBLE) / length(text) AS common_char_ratio
        FROM documents
    ),
    flags AS (
        SELECT lang,
               n_words BETWEEN 50 AND 100000 AS ok_words,
               mean_wlen BETWEEN 3 AND 10 AS ok_wlen,
               common_char_ratio >= 0.2 AS ok_chars
        FROM feats
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (ok_words) AS BIGINT) AS pass_words,
           CAST(COUNT(*) FILTER (ok_wlen) AS BIGINT) AS pass_wlen,
           CAST(COUNT(*) FILTER (ok_chars) AS BIGINT) AS pass_chars,
           CAST(COUNT(*) FILTER (ok_words AND ok_wlen AND ok_chars)
                AS BIGINT) AS pass_all
    FROM flags GROUP BY lang ORDER BY lang
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule bundle (Rae et al. 2021 heuristics,
    adapted to the fixture's punctuation-free vocabulary): word-count
    window [50, 100k], mean word length [3, 10], and a
    common-character-coverage floor, reported as per-language pass
    counts per rule AND for the conjunction — the pass-rate dashboard a
    filtering pipeline publishes before committing a corpus rev.

    One scan; every feature is per-row array arithmetic (exact integer
    rationals); the rollup is a single conditional aggregate. At 100 TB
    the rule evaluation is embarrassingly parallel and the report is
    |langs| rows.
    """
    d = table(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda t: t != F.lit(""))
    n_words = F.size(tk)
    len_sum = F.aggregate(
        F.transform(tk, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wlen = len_sum.cast("double") / n_words
    stripped = F.replace(
        F.replace(F.col("text"), F.lit(" "), F.lit("")), F.lit("e"), F.lit("")
    )
    common_ratio = (
        F.length("text") - F.length(stripped)
    ).cast("double") / F.length("text")
    feats = d.select(
        "lang",
        n_words.between(50, 100000).alias("ok_words"),
        mean_wlen.between(3, 10).alias("ok_wlen"),
        (common_ratio >= 0.2).alias("ok_chars"),
    )
    return (
        feats.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("ok_words").cast("long")).cast("bigint").alias("pass_words"),
            F.sum(F.col("ok_wlen").cast("long")).cast("bigint").alias("pass_wlen"),
            F.sum(F.col("ok_chars").cast("long")).cast("bigint").alias("pass_chars"),
            F.sum(
                (F.col("ok_words") & F.col("ok_wlen") & F.col("ok_chars")).cast("long")
            ).cast("bigint").alias("pass_all"),
        )
        .orderBy("lang")
    )


BP_MIN_DF = 3  # boilerplate phrase floor: appears in >= 3 documents


@query(
    "text_boilerplate_phrases",
    oracle=f"""
    WITH five AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 4, 0) + 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                        || tk[i+3] || ' ' || tk[i+4]))) AS phrase
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents
        )
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM five
    GROUP BY phrase
    HAVING COUNT(*) >= {BP_MIN_DF}
    ORDER BY doc_freq DESC, phrase ASC
    LIMIT 20
    """,
)
def text_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate PHRASE mining: the 5-gram phrases shared by ≥
    {BP_MIN_DF} documents, ranked by document frequency — the
    C4/RefinedWeb-style step that surfaces navigation chrome, license
    headers and template text for line-level stripping (complement of
    doc-level dedup: these phrases live inside otherwise-unique docs).

    Same O(n) shifted-slice zip build as the repetition op (lambdas on
    small arrays only), distinct-per-doc before the count so a phrase
    looping inside one doc can't fake corpus-level boilerplate; one
    hash agg + TakeOrdered. At 100 TB the HAVING floor prunes the
    singleton long tail before anything sorts.
    """
    # spread: the zip_with phrase build + array_distinct dominate
    # and would otherwise run on the single scan task (guide §2)
    d = spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("tk"),
    )
    tk = F.col("tk")
    n = F.greatest(F.size(tk) - 4, F.lit(0))
    shifted = [F.slice(tk, i, F.size(tk)) for i in range(2, 6)]
    phrases = tk
    for sh in shifted:
        phrases = F.zip_with(phrases, sh, lambda p, z: F.concat_ws(" ", p, z))
    five = F.array_distinct(F.slice(phrases, 1, n))
    return (
        d.select(F.explode(five).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count("*").cast("bigint").alias("doc_freq"))
        .filter(F.col("doc_freq") >= BP_MIN_DF)
        .orderBy(F.col("doc_freq").desc(), F.col("phrase").asc())
        .limit(20)
    )


@query(
    "text_lang_confusion",
    oracle="""
    WITH scored AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the','fast','key'], t))) AS s_en,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['table','scan','merge'], t))) AS s_de,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['order','sort','value'], t))) AS s_fr
        FROM documents
    )
    SELECT lang AS actual,
           CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CONFUSION MATRIX for the language-ID heuristic:
    (actual, predicted) cell counts — the evaluation artifact you
    publish with any filtering classifier before trusting it to route a
    corpus (the per-predicted rollup in ``text_langid`` shows accuracy;
    the matrix shows WHERE the mass confuses).

    Same one-scan scoring; the matrix is a two-key hash agg on
    |langs|² cells.
    """
    d = table(spark, sf_dir, "documents")
    toks = tokens_col()

    def score(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scored = d.select(
        "lang",
        score(("the", "fast", "key")).alias("s_en"),
        score(("table", "scan", "merge")).alias("s_de"),
        score(("order", "sort", "value")).alias("s_fr"),
    )
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return (
        scored.select(F.col("lang").alias("actual"), predicted.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


TOP_TERMS_K = 5


@query(
    "text_top_terms_per_lang",
    oracle=f"""
    WITH counts AS (
        SELECT lang, tok, COUNT(*) AS n
        FROM (
            SELECT lang,
                   UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS tok
            FROM documents
        )
        WHERE tok NOT IN {STOPWORDS!r}
        GROUP BY lang, tok
    )
    SELECT lang, tok, n
    FROM counts
    QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY n DESC, tok ASC) <= {TOP_TERMS_K}
    """,
)
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_TERMS_K} non-stopword terms per language by frequency —
    the corpus-characterization table (what IS this slice of the corpus
    about) and the cheap drift check between crawl snapshots.

    Plan: explode -> (lang, tok) partial-agg -> rank window. The rank
    prunes with WindowGroupLimit (Spark 3.5+): each partition discards
    beyond-top-k rows BEFORE the final sort, so the window never
    materializes the full term distribution per language.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens_col()).alias("tok")).filter(
        ~F.col("tok").isin(*STOPWORDS)
    )
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_TERMS_K)
        .drop("rn")
    )


@query(
    "text_code_detection",
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang,
               CAST(length(text) - length(replace(text, '{', ''))
                    + length(text) - length(replace(text, '}', ''))
                    + length(text) - length(replace(text, ';', ''))
                    + length(text) - length(replace(text, '=', ''))
                    AS BIGINT) AS n_code_chars,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('def', 'return', 'import', 'class',
                                   'function', 'var', 'const', 'if',
                                   'else', 'for', 'while')))
                    AS BIGINT) AS n_keywords,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    scored AS (
        SELECT lang,
               CASE WHEN n_tokens > 0
                     AND (CAST(n_code_chars AS DOUBLE) / n_chars > 0.01
                          OR CAST(n_keywords AS DOUBLE) / n_tokens > 0.05)
                    THEN 1 ELSE 0 END AS is_code
        FROM feats
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_code) AS BIGINT) AS n_code_docs
    FROM scored GROUP BY lang
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection: flag documents whose symbol density
    ({};= per char) or programming-keyword rate exceeds prose norms —
    the corpus-routing gate every LLM data pipeline runs (code goes to
    the code mix with its own dedup/quality rules; code mislabeled as
    prose poisons both mixes). Reported as per-language flag counts.

    Pure codegen feature extraction (replace-diff symbol counts, one
    token filter against a fixed keyword list) — no UDF, no regex
    backtracking; thresholds are the classifier, deliberately simple
    and auditable. Exact integer features, deterministic flag in both
    engines (ratio comparisons on identical doubles).
    """
    d = table(spark, sf_dir, "documents")
    kw = (
        "'def','return','import','class','function','var','const',"
        "'if','else','for','while'"
    )
    feats = d.select(
        "lang",
        F.expr(
            "CAST(length(text) - length(replace(text, '{', ''))"
            " + length(text) - length(replace(text, '}', ''))"
            " + length(text) - length(replace(text, ';', ''))"
            " + length(text) - length(replace(text, '=', ''))"
            " AS BIGINT)"
        ).alias("n_code_chars"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(
            F.expr(
                f"filter(split(text, ' '), t -> t IN ({kw}))"
            )
        )
        .cast("bigint")
        .alias("n_keywords"),
        F.size(F.expr("filter(split(text, ' '), t -> t <> '')"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    scored = feats.select(
        "lang",
        F.expr(
            "CASE WHEN n_tokens > 0"
            " AND (CAST(n_code_chars AS DOUBLE) / n_chars > 0.01"
            " OR CAST(n_keywords AS DOUBLE) / n_tokens > 0.05)"
            " THEN 1 ELSE 0 END"
        ).alias("is_code"),
    )
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_code").cast("bigint").alias("n_code_docs"),
    )


@query(
    "text_lm_score_filter",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    totals AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq),
    per_doc AS (
        SELECT t.doc_id,
               ROUND(AVG(ln(f.c / (SELECT n FROM totals))), 4) AS lp
        FROM tok t JOIN freq f ON t.tok = f.tok
        GROUP BY t.doc_id
    ),
    binned AS (
        SELECT d.lang,
               CASE WHEN p.lp >= -7.0 THEN 'keep'
                    WHEN p.lp >= -8.0 THEN 'review'
                    ELSE 'drop' END AS bucket,
               d.n_chars
        FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM binned GROUP BY lang, bucket
    """,
)
def text_lm_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERING step on top of unigram-LM scoring
    (``text_unigram_logprob`` computes the score; this op applies the
    keep / review / drop thresholds and reports what each decision
    costs per language in documents AND character mass) — the actual
    corpus-shaping action, with the retention report a data lead signs
    off on before a training run.

    Same one-explode score kernel (exchange-reused frequency table);
    the thresholds are fixed logprob cut-points so the bucket decision
    is a deterministic comparison on the 4-dp-rounded score in both
    engines.
    """
    d = spread(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("c") / F.col("n"))), 4).alias("lp"))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    binned = scored.join(docs, "doc_id").select(
        "lang",
        F.expr(
            "CASE WHEN lp >= -7.0 THEN 'keep'"
            " WHEN lp >= -8.0 THEN 'review' ELSE 'drop' END"
        ).alias("bucket"),
        "n_chars",
    )
    return binned.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "text_vocab_growth_heaps",
    oracle="""
    WITH n AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
    first AS (
        SELECT tok, MIN(doc_id) AS first_doc
        FROM (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    one AS (
        SELECT ANY_VALUE(n.nd) AS nd,
               CAST(SUM(CASE WHEN first_doc < ceil(0.125 * n.nd)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v125,
               CAST(SUM(CASE WHEN first_doc < ceil(0.25 * n.nd)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v25,
               CAST(SUM(CASE WHEN first_doc < ceil(0.5 * n.nd)
                        THEN 1 ELSE 0 END) AS BIGINT) AS v50,
               CAST(COUNT(*) AS BIGINT) AS v100
        FROM first, n
    )
    SELECT frac, n_docs, vocab
    FROM (
        SELECT CAST(0.125 AS DOUBLE) AS frac,
               CAST(ceil(0.125 * nd) AS BIGINT) AS n_docs, v125 AS vocab
        FROM one
        UNION ALL SELECT 0.25, CAST(ceil(0.25 * nd) AS BIGINT), v25 FROM one
        UNION ALL SELECT 0.5, CAST(ceil(0.5 * nd) AS BIGINT), v50 FROM one
        UNION ALL SELECT 1.0, CAST(nd AS BIGINT), v100 FROM one
    )
    """,
)
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct-token count after
    1/8, 1/4, 1/2 and all of the corpus in doc-id order — the
    sublinearity check that says whether a tokenizer's vocab budget
    will hold as the corpus scales (vocab ∝ docs^β, β≈0.5 for natural
    text; β→1 flags ID-like/garbage token floods long before they
    blow up a vocab build).

    The exploded token stream collapses IMMEDIATELY to one
    (token, first_doc_id) row per distinct token — a min-aggregate, so
    the shuffle is |vocab|, not |token occurrences| — and every
    checkpoint is a conditional count over that one frame: 4 cutoffs =
    4 counters, one scan, no per-checkpoint recount. Adding checkpoints
    is free; the corpus-size scalar broadcasts from a 1-row aggregate.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    first = (
        d.select("doc_id", F.explode(tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    nd = d.agg((F.max("doc_id") + 1).alias("nd"))
    one = first.crossJoin(F.broadcast(nd)).agg(
        F.any_value("nd").alias("nd"),
        *[
            F.sum(
                (F.col("first_doc") < F.ceil(F.lit(f) * F.col("nd"))).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias(v)
            for f, v in ((0.125, "v125"), (0.25, "v25"), (0.5, "v50"))
        ],
        F.count("*").cast("bigint").alias("v100"),
    )
    return one.select(
        F.expr(
            "stack(4, "
            "CAST(0.125 AS DOUBLE), CAST(ceil(0.125 * nd) AS BIGINT), v125, "
            "CAST(0.25  AS DOUBLE), CAST(ceil(0.25 * nd) AS BIGINT), v25, "
            "CAST(0.5   AS DOUBLE), CAST(ceil(0.5 * nd) AS BIGINT), v50, "
            "CAST(1.0   AS DOUBLE), CAST(nd AS BIGINT), v100"
            ") AS (frac, n_docs, vocab)"
        )
    )


@query(
    "text_token_head_coverage",
    oracle="""
    WITH counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    ranked AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rn
        FROM counts
    ),
    one AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_vocab,
               CAST(SUM(CASE WHEN rn <= 100 THEN cnt ELSE 0 END) AS BIGINT)
                   AS m100,
               CAST(SUM(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END) AS BIGINT)
                   AS m1000,
               CAST(SUM(CASE WHEN rn <= 10000 THEN cnt ELSE 0 END) AS BIGINT)
                   AS m10000
        FROM ranked
    )
    SELECT k, LEAST(CAST(k AS BIGINT), n_vocab) AS n_head_tokens,
           ROUND(CAST(mass AS DOUBLE) / total, 6) AS coverage
    FROM (
        SELECT CAST(100 AS INT) AS k, m100 AS mass, n_vocab, total FROM one
        UNION ALL SELECT 1000, m1000, n_vocab, total FROM one
        UNION ALL SELECT 10000, m10000, n_vocab, total FROM one
    )
    """,
)
def text_token_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-coverage of the token frequency table: what fraction of all
    token OCCURRENCES the top-100 / top-1k / top-10k most frequent
    types cover — the vocabulary-size planning curve (a tokenizer whose
    10k head covers 99% of mass wastes the other 90k slots; one whose
    head covers 60% will OOV constantly).

    The occurrence stream collapses to |vocab| count rows in one
    map-combined aggregate; the global frequency rank then runs as the
    TWO-PHASE bucket-cut rank (``two_phase_global_rank``, descending,
    token tie-break) — no single task ever sorts the whole vocabulary —
    and all three K cutoffs are conditional sums over the ranked frame
    in one pass.
    """
    from pyspark.sql import Window

    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    # materialize the |vocab|-row count table ONCE: both consumers (the
    # top-10k head and the totals) read it instead of re-running the
    # tokenize+explode over the full corpus
    counts = (
        d.select(F.explode(tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # Round-11 opt: the largest K is a CONSTANT (10k), so the global
    # frequency rank never needs the bucket-cut two-phase rank at any
    # scale — a bounded top-k (TakeOrderedAndProject: per-partition
    # priority queues, no full sort, no driver quantile/offset jobs)
    # followed by row_number over that <=10k-row frame gives identical
    # ranks for every rank the query consumes. The former shape ran an
    # approxQuantile + bucket-offset collect (3 blocking driver jobs /
    # 6 bench jobs, 1.27 s); this one runs the checkpoint + ONE action.
    order = [F.col("cnt").desc(), F.col("tok").asc()]
    topk = counts.orderBy(*order).limit(10000)
    rn = F.row_number().over(Window.orderBy(*order))
    heads = (
        topk.withColumn("rn", rn)
        .agg(
            *[
                F.sum(F.when(F.col("rn") <= k, F.col("cnt")).otherwise(0))
                .cast("bigint")
                .alias(f"m{k}")
                for k in (100, 1000, 10000)
            ]
        )
    )
    totals = counts.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_vocab"),
    )
    one = totals.crossJoin(F.broadcast(heads))
    return one.select(
        F.expr(
            "stack(3, CAST(100 AS INT), m100, CAST(1000 AS INT), m1000, "
            "CAST(10000 AS INT), m10000) AS (k, mass)"
        ),
        "n_vocab",
        "total",
    ).select(
        "k",
        F.least(F.col("k").cast("bigint"), F.col("n_vocab")).alias(
            "n_head_tokens"
        ),
        F.round(F.col("mass").cast("double") / F.col("total"), 6).alias(
            "coverage"
        ),
    )


@query(
    "documents_source_overlap_matrix",
    oracle="""
    WITH h AS (
        SELECT DISTINCT source,
               md5(array_to_string(
                   list_filter(string_split(text, ' '), t -> t <> '')[1:8],
                   ' ')) AS h
        FROM documents
    ),
    tot AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY source
    ),
    pair AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(ta.n, tb.n), 6)
               AS overlap_coef
    FROM pair p
    JOIN tot ta ON p.source_a = ta.source
    JOIN tot tb ON p.source_b = tb.source
    """,
)
def documents_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content overlap matrix on an 8-token PREFIX
    fingerprint: for every source pair, how many distinct fingerprints
    appear in both, and the overlap coefficient |A∩B| / min(|A|,|B|) —
    the "is crawl X mirroring crawl Y" audit run before paying for
    near-dup passes, and the provenance signal corpus-mixing weights
    must not double count. Prefix fingerprinting (vs whole-text md5)
    also catches template/boilerplate-led duplication where bodies
    diverge after a shared opening — the common mirror signature.

    Texts never shuffle: each doc collapses to a 32-char prefix digest
    at the scan, the distinct (source, digest) set is the only thing
    exchanged, and the pair join is digest-keyed (sources sharing
    nothing produce zero join rows). Per-source totals broadcast back
    onto the ≤|sources|² matrix.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    # materialize the digest set once: the plan reuses it four times
    # (both pair sides + both totals), and without the checkpoint each
    # reuse re-SCANS the text column — the one heavy column here
    h = (
        d.select(
            "source",
            F.md5(F.concat_ws(" ", F.slice(tokens_col(), 1, 8))).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = h.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = h.select(F.col("source").alias("source_a"), "h")
    b = h.select(F.col("source").alias("source_b"), "h")
    pair = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b"),
                6,
            ).alias("overlap_coef"),
        )
    )


@query(
    "text_doc_length_log2_histogram",
    oracle="""
    WITH b AS (
        SELECT n_chars,
               CAST({cases} AS INT) AS bucket
        FROM documents
    )
    SELECT bucket,
           CAST(POWER(2, bucket) AS BIGINT) AS lo_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE)
                 / (SELECT SUM(n_chars) FROM documents), 6) AS char_share
    FROM b
    GROUP BY bucket
    """.replace(
        "{cases}",
        " + ".join(
            f"(CASE WHEN n_chars >= {1 << k} THEN 1 ELSE 0 END)"
            for k in range(1, 21)
        ),
    ),
)
def text_doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram with character-mass
    shares — the sequence-packing planner's input (how many docs fall
    in each power-of-two band decides chunk sizes, padding waste and
    the long-tail truncation budget before any tokenizer runs).

    The bucket is an INTEGER comparison chain (Σ [n_chars ≥ 2^k]), not
    floor(log2(x)) — no libm, bit-identical across engines including at
    exact powers of two; codegen folds it into the scan. One aggregate
    to ≤20 bucket rows; the corpus-total denominator is a scalar off
    the same scan.
    """
    d = table(spark, sf_dir, "documents")
    bucket = F.lit(0)
    for k in range(1, 21):
        bucket = bucket + (F.col("n_chars") >= (1 << k)).cast("int")
    hist = (
        d.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .localCheckpoint(eager=True)
    )
    # the denominator is the histogram's own mass — no second fact scan
    tot = hist.agg(F.sum("total_chars").cast("double").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias("lo_chars"),
        "n_docs",
        "total_chars",
        F.round(F.col("total_chars").cast("double") / F.col("t"), 6).alias(
            "char_share"
        ),
    )


@query(
    "text_bpe_first_merges",
    oracle="""
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT UNNEST(list_transform(range(1, len(tok)),
                                     i -> substr(tok, i, 2))) AS pair
        FROM (
            SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                AS tok
            FROM documents
        )
    )
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
)
def text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge candidates: the top-20 adjacent
    character pairs by occurrence count across all token occurrences —
    exactly the statistic byte-pair-encoding training computes each
    round (train a tokenizer = repeat this count + merge loop). The
    top of this table predicts the first learned merges and is the
    cheap corpus-signature check that a tokenizer was trained on
    similar text.

    Pairs generate INSIDE the row via ``transform(sequence(...))`` —
    each token occurrence fans out to its len−1 adjacent pairs with no
    join — and collapse in one map-side-combined count; only the
    ≤|alphabet|² pair keys shuffle, then a top-20 heap merge. Single-
    char tokens contribute no pairs in either engine (empty sequence).
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_col()).alias("tok")).filter(
        F.length("tok") >= 2
    )
    return (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@query(
    "text_dup_ngram_fraction",
    oracle="""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), t -> t <> '') AS tk
        FROM documents
    ),
    grams AS (
        SELECT md5(UNNEST(list_transform(range(1, len(tk) - 3),
                   i -> array_to_string(tk[i:i+4], ' ')))) AS g
        FROM toks
    ),
    counts AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS dup_occurrence_share,
           ROUND(CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_gram_share
    FROM counts
    """,
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate n-gram mass (the Gopher/RefinedWeb
    "fraction of duplicated n-grams" signals): what share of all
    5-gram OCCURRENCES belong to a gram seen more than once, and what
    share of DISTINCT grams are duplicated. High occurrence-share with
    low gram-share = a few boilerplate passages stamped everywhere
    (dedup pays off); both high = template corpus. The one-row summary
    quoted next to every web-scale dedup decision.

    5-grams fan out INSIDE the row (transform over a token-index
    sequence) and are md5'd at birth, so the only thing shuffled is a
    fixed-width 32-char digest per occurrence — never gram text — into
    one map-combined count; the final reduction is a 1-row aggregate
    over |distinct grams|. Docs shorter than 5 tokens contribute
    nothing in either engine (empty sequence).
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    # spread: gram fan-out + per-gram md5 dominate and would
    # otherwise evaluate on the single scan task (guide §2)
    d = spread(spark, sf_dir, "documents")
    # the >= 5 guard matters: Spark's sequence(1, 0) is DESCENDING
    # [1, 0], not empty like DuckDB's range(1, 1) — a 4-token doc would
    # emit phantom grams without it
    grams = (
        d.select(tokens_col().alias("tk"))
        .filter(F.size("tk") >= 5)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 4), "
                    "i -> md5(concat_ws(' ', slice(tk, i, 5))))"
                )
            ).alias("g")
        )
    )
    counts = grams.groupBy("g").agg(F.count("*").cast("bigint").alias("c"))
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_occurrences"),
        F.count("*").cast("bigint").alias("n_distinct_grams"),
        F.round(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).cast(
                "double"
            )
            / F.sum("c"),
            6,
        ).alias("dup_occurrence_share"),
        F.round(
            F.sum((F.col("c") >= 2).cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_gram_share"),
    )


@query(
    "text_char_trigram_signature",
    oracle="""
    WITH g AS (
        SELECT lang,
               UNNEST(list_transform(range(1, len(text) - 1),
                                     i -> substr(text, i, 3))) AS tri
        FROM documents
    ),
    counts AS (
        SELECT lang, tri, CAST(COUNT(*) AS BIGINT) AS n
        FROM g WHERE tri NOT LIKE '% %' GROUP BY lang, tri
    )
    SELECT lang, tri, n, rk
    FROM (
        SELECT lang, tri, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n DESC, tri ASC
               ) AS INT) AS rk
        FROM counts
    )
    WHERE rk <= 5
    """,
)
def text_char_trigram_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram signature: the top-5 most frequent
    space-free char trigrams per language — exactly the feature family
    classical language identifiers (textcat/CLD) rank on, published as
    a signature table the ``text_langid`` heuristic can be audited and
    retrained against (a drifting signature = the corpus's language
    labels and its character statistics are diverging).

    Trigrams fan out INSIDE the row (nested transform over the row's
    space-split words — no join, no UDF). Splitting to words FIRST
    means space-containing positions are never materialized at all
    (round-5 VERDICT #2: the old form generated every character
    position then filtered — 2.27 s vs 0.81 s at sf0.1): a space-free
    trigram is exactly a trigram inside a maximal space-delimited
    token, so the output is bit-identical while the explode emits ~30 %
    fewer rows and the post-explode filter disappears. The per-language
    top-5 is a keyed window over the collapsed (lang, trigram) counts:
    partitions bounded by |langs|, never global.
    """
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    g = d.select(
        "lang",
        F.explode(
            F.flatten(
                F.expr(
                    "transform(filter(split(text, ' '), w -> length(w) >= 3),"
                    " w -> transform(sequence(1, length(w) - 2),"
                    " i -> substring(w, i, 3)))"
                )
            )
        ).alias("tri"),
    )
    counts = g.groupBy("lang", "tri").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tri").asc())
    return (
        counts.select(
            "lang", "tri", "n", F.row_number().over(w).cast("int").alias("rk")
        )
        .filter(F.col("rk") <= 5)
    )


@query(
    "documents_length_anova_f",
    oracle="""
    WITH g AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(CAST(n_chars AS DECIMAL(30,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(CAST(n_chars AS BIGINT) * n_chars
                             AS DECIMAL(30,6))) AS DOUBLE) AS s2
        FROM documents GROUP BY lang
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n_total,
               SUM(s1) AS t1, SUM(s2) AS t2,
               SUM(s1 * s1 / n_g) AS sb_part
        FROM g
    )
    SELECT k, n_total,
           ROUND((sb_part - t1 * t1 / n_total) / (k - 1)
                 / ((t2 - sb_part) / (n_total - k)), 4) AS f_stat,
           ROUND((sb_part - t1 * t1 / n_total)
                 / (t2 - t1 * t1 / n_total), 4) AS eta_squared
    FROM agg
    """,
)
def documents_length_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length across languages: F statistic
    (between-language / within-language variance) and η² (share of
    length variance explained by language) — the "is length a language
    proxy" audit that decides whether per-language packing budgets and
    length-based quality cuts need language-conditional thresholds
    (a high η² means one global length cutoff silently biases against
    verbose languages).

    Group moments accumulate in exact DECIMAL from integer lengths
    (order-independent — distributed partial sums cannot drift from
    the oracle's serial sums), collapse to a |langs|-row frame, and
    the F/η² closed forms run on one row. 4-dp rounding at the edge.
    """
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(F.col("n_chars").cast("decimal(30,6)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            (F.col("n_chars").cast("bigint") * F.col("n_chars")).cast(
                "decimal(30,6)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    agg = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n_total"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        F.sum(F.col("s1") * F.col("s1") / F.col("n_g")).alias("sb_part"),
    )
    return agg.select(
        "k",
        "n_total",
        F.round(
            (F.col("sb_part") - F.col("t1") * F.col("t1") / F.col("n_total"))
            / (F.col("k") - 1)
            / (
                (F.col("t2") - F.col("sb_part"))
                / (F.col("n_total") - F.col("k"))
            ),
            4,
        ).alias("f_stat"),
        F.round(
            (F.col("sb_part") - F.col("t1") * F.col("t1") / F.col("n_total"))
            / (
                F.col("t2")
                - F.col("t1") * F.col("t1") / F.col("n_total")
            ),
            4,
        ).alias("eta_squared"),
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT lang,
                   UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS tok
            FROM documents
        )
        GROUP BY lang, tok
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_ratio,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM counts GROUP BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena ratio per language: the share of each language's
    vocabulary that occurs exactly once — the corpus-maturity and
    noise gauge (natural text plateaus near ~40-50% hapax; far above
    that flags OCR garbage / ID floods inflating the vocab, far below
    flags template spam), read next to the Heaps curve (B357) before
    sizing a tokenizer.

    The occurrence stream collapses to |vocab| count rows in one
    map-combined aggregate keyed by (lang, token); the summary is a
    per-language second aggregate — token text shuffles once, docs
    never do.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(tokens_col()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return counts.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("bigint").alias("hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("hapax_ratio"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )


# Fixed-substring artifact counters, shared expression text with the
# oracle. Substring counts via LENGTH-REPLACE arithmetic (exact integer,
# identical left-to-right replace semantics on both engines) — no regex,
# whose dialects differ between engines.
_OCR_COUNTS = (
    "CAST((LENGTH(text) - LENGTH(REPLACE(text, '  ', ''))) div 2 "
    "AS BIGINT) AS ds",
    "CAST(LENGTH(text) - LENGTH(REPLACE(text, ' - ', '')) AS BIGINT) "
    "div 3 AS hb",
    "CAST(LENGTH(text) - LENGTH(REPLACE(text, '�', '')) AS BIGINT) "
    "AS rc",
)


@query(
    "text_ocr_artifact_score",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(LENGTH(text) AS BIGINT) AS chars,
               {", ".join(c.replace(" div ", " // ") for c in _OCR_COUNTS)}
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(ds) AS BIGINT) AS double_spaces,
           CAST(SUM(hb) AS BIGINT) AS hyphen_breaks,
           CAST(SUM(rc) AS BIGINT) AS replacement_chars,
           ROUND(CAST(SUM(ds) + SUM(hb) + SUM(rc) AS DOUBLE) * 1000
                 / SUM(chars), 6) AS artifacts_per_kchar,
           CAST(SUM(CASE WHEN ds + hb + rc > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS affected_docs
    FROM per_doc GROUP BY source
    """,
)
def text_ocr_artifact_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/encoding-artifact density per source: double spaces, broken
    hyphenation (' - ' mid-line splits), and U+FFFD replacement
    characters per thousand characters — the triage table that decides
    which sources need a repair pass (or exclusion) before the quality
    model ever scores them; regex-free so the counts are identical
    integers on any engine.

    Pure per-row codegen (LENGTH/REPLACE arithmetic) followed by one
    map-side-combined aggregate to |sources| rows of exact integer
    sums — the text column is scanned once and never shuffled; only the
    counter partials move.
    """
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.length("text").cast("bigint").alias("chars"),
        *[F.expr(c.replace(" AS ds", "").replace(" AS hb", "").replace(" AS rc", "")).alias(n)
          for c, n in zip(_OCR_COUNTS, ("ds", "hb", "rc"))],
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("ds").cast("bigint").alias("double_spaces"),
        F.sum("hb").cast("bigint").alias("hyphen_breaks"),
        F.sum("rc").cast("bigint").alias("replacement_chars"),
        F.round(
            (F.sum("ds") + F.sum("hb") + F.sum("rc")).cast("double")
            * 1000
            / F.sum("chars"),
            6,
        ).alias("artifacts_per_kchar"),
        F.sum(
            ((F.col("ds") + F.col("hb") + F.col("rc")) > 0).cast("long")
        )
        .cast("bigint")
        .alias("affected_docs"),
    )


@query(
    "text_sentence_length_profile",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               1 + (LENGTH(text) - LENGTH(REPLACE(text, '. ', ''))) // 2
                   AS sents,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS toks
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sents) AS BIGINT) AS n_sentences,
           ROUND(CAST(SUM(sents) AS DOUBLE) / COUNT(*), 6)
               AS sentences_per_doc,
           ROUND(CAST(SUM(toks) AS DOUBLE) / SUM(sents), 6)
               AS tokens_per_sentence,
           CAST(MAX(sents) AS BIGINT) AS max_sentences
    FROM per_doc GROUP BY lang
    """,
)
def text_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity profile per language: sentences approximated
    by '. ' boundaries (regex-free LENGTH/REPLACE counting — exact,
    engine-portable integers), giving sentences/doc and tokens/sentence
    — the syntactic-complexity axis quality filters read next to raw
    length (machine-generated spam runs abnormally uniform, OCR noise
    abnormally long), and the chunker's input for sentence-aware
    splits.

    Pure per-row codegen then one aggregate to |langs| rows of exact
    integer sums; the text column never shuffles.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.expr(
            "1 + CAST((LENGTH(text) - LENGTH(REPLACE(text, '. ', ''))) "
            "div 2 AS BIGINT)"
        ).alias("sents"),
        F.size(tokens_col()).cast("bigint").alias("toks"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("sents").cast("bigint").alias("n_sentences"),
        F.round(F.sum("sents").cast("double") / F.count("*"), 6).alias(
            "sentences_per_doc"
        ),
        F.round(F.sum("toks").cast("double") / F.sum("sents"), 6).alias(
            "tokens_per_sentence"
        ),
        F.max("sents").cast("bigint").alias("max_sentences"),
    )


@query(
    "text_nonascii_profile",
    oracle="""
    WITH per_doc AS (
        SELECT lang, source,
               CAST(LENGTH(text) AS BIGINT) AS chars,
               CAST(strlen(text) - LENGTH(text) AS BIGINT) AS extra_bytes
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(extra_bytes) AS BIGINT) AS extra_bytes,
           ROUND(CAST(SUM(extra_bytes) AS DOUBLE) / SUM(chars), 6)
               AS extra_bytes_per_char,
           CAST(SUM(CASE WHEN extra_bytes * 10 > chars THEN 1 ELSE 0 END)
                AS BIGINT) AS heavy_docs
    FROM per_doc GROUP BY lang
    """,
)
def text_nonascii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script/encoding weight per language via the UTF-8 byte overhead:
    ``octet_length − char_length`` counts exactly the multi-byte
    (non-ASCII) character mass — zero for pure-ASCII English, high for
    CJK — so a language whose byte overhead disagrees with its label
    (ASCII-flat "zh", byte-heavy "en") flags mislabeled or
    mojibake-damaged docs before language-conditional filters trust the
    label. ``heavy_docs`` counts docs whose overhead exceeds 10% of
    their characters (integer cross-multiplied — no float threshold).

    Per-row codegen on two length functions and one |langs|-row exact
    integer aggregate; the text never shuffles and no regex runs.
    """
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.length("text").cast("bigint").alias("chars"),
        (F.octet_length("text") - F.length("text"))
        .cast("bigint")
        .alias("extra_bytes"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("extra_bytes").cast("bigint").alias("extra_bytes"),
        F.round(
            F.sum("extra_bytes").cast("double") / F.sum("chars"), 6
        ).alias("extra_bytes_per_char"),
        F.sum((F.col("extra_bytes") * 10 > F.col("chars")).cast("long"))
        .cast("bigint")
        .alias("heavy_docs"),
    )


@query(
    "text_cross_lang_vocab_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT lang, tok FROM (
            SELECT lang,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        )
    ),
    sizes AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM vocab GROUP BY lang
    ),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS shared
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    SELECT lang_a, lang_b, shared,
           sa.v AS vocab_a, sb.v AS vocab_b,
           ROUND(CAST(shared AS DOUBLE) / (sa.v + sb.v - shared), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.lang = lang_a
    JOIN sizes sb ON sb.lang = lang_b
    """,
)
def text_cross_lang_vocab_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary Jaccard between every language pair: shared surface
    tokens come from loanwords, names, numbers — and from MISLABELED
    documents, so a pair whose overlap jumps release-over-release is
    the first sign the language classifier drifted (read next to
    ``text_lang_confusion``). Also the planning input for shared- vs
    per-language tokenizer vocabularies.

    The corpus collapses once to the distinct (lang, token) frame —
    the same shuffle key ``text_hapax_ratio`` uses — and the pair
    overlap is a token-keyed self-join of that collapsed frame
    (|vocab| rows, never documents), then a |langs|²-row summary with
    exact integer Jaccards.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select("lang", F.explode(tokens_col()).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("v")
    )
    a = vocab.select(F.col("lang").alias("lang_a"), "tok")
    b = vocab.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "shared",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "documents_lang_source_mi",
    oracle="""
    WITH cell AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell),
    margins AS (
        SELECT cell.lang, cell.source, c, n,
               SUM(c) OVER (PARTITION BY lang) AS cl,
               SUM(c) OVER (PARTITION BY source) AS cs
        FROM cell CROSS JOIN tot
    ),
    terms AS (
        SELECT CAST(FLOOR((CAST(c AS DOUBLE) / n)
                    * log2(CAST(c AS DOUBLE) * n
                           / (CAST(cl AS DOUBLE) * cs)) * 1e12) AS BIGINT)
                   AS tq,
               CAST(FLOOR(-(CAST(cl AS DOUBLE) / n)
                    * log2(CAST(cl AS DOUBLE) / n) * 1e12 / cnt_s) AS BIGINT)
                   AS hq
        FROM margins
        CROSS JOIN (SELECT COUNT(DISTINCT source) AS cnt_s FROM cell)
    )
    SELECT ROUND(CAST(SUM(tq) AS DOUBLE) / 1e12, 6) AS mi_bits,
           ROUND(CAST(SUM(hq) AS DOUBLE) / 1e12, 6) AS h_lang_bits,
           ROUND(CAST(SUM(tq) AS DOUBLE) / SUM(hq), 6)
               AS normalized_mi
    FROM terms
    """,
)
def documents_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in bits — how much knowing the
    source tells you about the language (and vice versa). NMI ≈ 0 means
    the mixture is well stirred (every source contributes every
    language at the global ratio); NMI → 1 means sources ARE languages,
    so any source-level filter silently becomes a language filter — the
    single number to check before per-source quality cuts.

    The corpus collapses to the |langs×sources| contingency frame; MI
    and H(lang) terms evaluate per cell from exact integers and
    quantize at 10⁻¹² into int64 before the final sums (the tiny frame
    still sums order-independently). H(lang) is replicated across the
    per-lang cells and divided by the source count so the window frame
    stays one pass.
    """
    d = table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = cell.agg(F.sum("c").cast("bigint").alias("n"))
    n_src = cell.agg(F.countDistinct("source").alias("cnt_s"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    margins = (
        cell.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n_src))
        .select(
            "c",
            "n",
            "cnt_s",
            F.sum("c").over(wl).alias("cl"),
            F.sum("c").over(ws).alias("cs"),
        )
    )
    terms = margins.select(
        F.expr(
            "CAST(FLOOR((CAST(c AS DOUBLE) / n)"
            " * log2(CAST(c AS DOUBLE) * n"
            " / (CAST(cl AS DOUBLE) * cs)) * 1e12) AS BIGINT)"
        ).alias("tq"),
        F.expr(
            "CAST(FLOOR(-(CAST(cl AS DOUBLE) / n)"
            " * log2(CAST(cl AS DOUBLE) / n) * 1e12 / cnt_s) AS BIGINT)"
        ).alias("hq"),
    )
    return terms.agg(
        F.round(F.sum("tq").cast("double") / F.lit(1e12), 6).alias(
            "mi_bits"
        ),
        F.round(F.sum("hq").cast("double") / F.lit(1e12), 6).alias(
            "h_lang_bits"
        ),
        F.round(
            F.sum("tq").cast("double") / F.sum("hq"), 6
        ).alias("normalized_mi"),
    )


@query(
    "text_token_length_distribution",
    oracle="""
    WITH toks AS (
        SELECT lang,
               LEAST(LENGTH(UNNEST(list_filter(string_split(text, ' '),
                                               t -> t <> ''))), 15) AS tl
        FROM documents
    )
    SELECT lang,
           CAST(tl AS INT) AS token_len,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks GROUP BY lang, tl
    """,
)
def text_token_length_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-LENGTH histogram per language (capped at 15+): the
    tokenizer-planning curve — a long tail says agglutinative
    morphology or URL/id junk that a word-level vocab will shatter into
    UNKs, and a cross-language comparison shows where one shared BPE
    under-serves a language (read next to ``text_hapax_ratio`` and the
    BPE merge table). Regex-free and exact.

    Tokens explode in-row and collapse immediately to the
    (lang, length) histogram — ≤ |langs|×16 counter rows shuffle; the
    token text itself never does (length is computed pre-shuffle).
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.transform(tokens_col(), lambda t: F.least(F.length(t), F.lit(15)))
        ).alias("tl"),
    )
    return toks.groupBy("lang", F.col("tl").cast("int").alias("token_len")).agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )


@query(
    "text_term_burstiness",
    oracle="""
    WITH occ AS (
        SELECT lang, doc_id,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    stats AS (
        SELECT lang, tok,
               CAST(COUNT(*) AS BIGINT) AS cf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM occ GROUP BY lang, tok
        HAVING COUNT(*) >= 20
    )
    SELECT lang, tok, cf, df,
           ROUND(CAST(cf AS DOUBLE) / df, 6) AS burstiness, rk
    FROM (
        SELECT lang, tok, cf, df,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(cf AS DOUBLE) / df DESC, tok ASC
               ) AS INT) AS rk
        FROM stats
    )
    WHERE rk <= 10
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term BURSTINESS (collection frequency over document frequency)
    for frequent terms, top-10 per language: cf/df ≈ 1 means a term
    sprinkles evenly (stopword-like); high cf/df means it CLUMPS into
    few documents — topical or boilerplate mass that TF-IDF's df alone
    can't separate, and the feature that flags template spam (one
    phrase, hammered in a handful of docs) before it poisons n-gram
    stats.

    One (lang, token) collapse carrying both counts (the hapax/tfidf
    shuffle shape — token text shuffles once, docs never), a ≥20-cf
    frequency floor, and a per-language top-10 window over the
    collapsed vocabulary (Heaps-sublinear per partition).
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    occ = d.select("lang", "doc_id", F.explode(tokens_col()).alias("tok"))
    stats = (
        occ.groupBy("lang", "tok")
        .agg(
            F.count("*").cast("bigint").alias("cf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .filter(F.col("cf") >= 20)
    )
    w = Window.partitionBy("lang").orderBy(
        (F.col("cf").cast("double") / F.col("df")).desc(), F.col("tok").asc()
    )
    return (
        stats.select(
            "lang",
            "tok",
            "cf",
            "df",
            F.round(F.col("cf").cast("double") / F.col("df"), 6).alias(
                "burstiness"
            ),
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 10)
    )


@query(
    "text_token_class_share",
    oracle="""
    WITH toks AS (
        SELECT source,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    classed AS (
        SELECT source,
               CASE
                 WHEN LENGTH(translate(tok, '0123456789', '')) = 0
                   THEN 'numeric'
                 WHEN LENGTH(translate(tok, '0123456789', ''))
                      < LENGTH(tok) THEN 'mixed'
                 WHEN LENGTH(translate(LOWER(tok),
                      'abcdefghijklmnopqrstuvwxyz', '')) = 0 THEN 'alpha'
                 ELSE 'other'
               END AS cls
        FROM toks
    )
    SELECT source, cls,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS share
    FROM classed GROUP BY source, cls
    """,
)
def text_token_class_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token CLASS composition per source — numeric, alphabetic, mixed
    alphanumeric, other — the junk-token census that catches id floods,
    serial-number dumps and table-as-text pages before they enter the
    training mix (a source whose numeric+mixed share spikes is
    structured data wearing a text costume). Classification is
    ``translate``-based character-set arithmetic — exact, regex-free,
    engine-portable.

    Tokens classify in-row and collapse straight to |sources|×4 counter
    rows (the class label, not the token, is the shuffle key); shares
    divide exact integers per source.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens_col()).alias("tok"))
    no_digits = F.length(F.translate(F.col("tok"), "0123456789", ""))
    no_alpha = F.length(
        F.translate(
            F.lower(F.col("tok")), "abcdefghijklmnopqrstuvwxyz", ""
        )
    )
    cls = (
        F.when(no_digits == 0, "numeric")
        .when(no_digits < F.length("tok"), "mixed")
        .when(no_alpha == 0, "alpha")
        .otherwise("other")
    )
    classed = toks.select("source", cls.alias("cls"))
    counts = classed.groupBy("source", "cls").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    w = Window.partitionBy("source")
    return counts.select(
        "source",
        "cls",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("share"),
    )


@query(
    "text_unigram_perplexity",
    oracle="""
    WITH counts AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT lang,
                   UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                       AS tok
            FROM documents
        )
        GROUP BY lang, tok
    ),
    tot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY lang
    ),
    terms AS (
        SELECT counts.lang,
               CAST(FLOOR(-(CAST(c AS DOUBLE) / n)
                    * log2(CAST(c AS DOUBLE) / n) * 1e12) AS BIGINT) AS hq
        FROM counts JOIN tot ON counts.lang = tot.lang
    )
    SELECT terms.lang,
           ROUND(CAST(SUM(hq) AS DOUBLE) / 1e12, 6) AS entropy_bits,
           ROUND(POWER(2, CAST(SUM(hq) AS DOUBLE) / 1e12), 2)
               AS effective_vocab,
           CAST((SELECT COUNT(*) FROM counts c2
                 WHERE c2.lang = terms.lang) AS BIGINT) AS raw_vocab
    FROM terms GROUP BY terms.lang
    """,
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram ENTROPY and effective vocabulary (2^H — the perplexity of
    the language's own unigram model) per language: where ``raw_vocab``
    counts every surface form once, ``effective_vocab`` weights by use —
    the gap between them is how top-heavy the distribution is, the
    one-number diversity index that moves when boilerplate floods a
    language (raw vocab barely changes, effective vocab collapses).
    Reads next to the Zipf slope and hapax ratio.

    The (lang, token) collapse is the shared text shuffle; −p·log₂p
    terms floor-quantize at 10⁻¹² into int64 before the per-language
    sums (order-independent), and 2^H is computed from the identical
    quantized total on both engines (POWER(2, x) is exp2-exact enough
    off-grid at 2 dp — H is irrational).
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(tokens_col()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = counts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = counts.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("raw_vocab")
    )
    terms = counts.join(F.broadcast(tot), "lang").select(
        "lang",
        F.expr(
            "CAST(FLOOR(-(CAST(c AS DOUBLE) / n)"
            " * log2(CAST(c AS DOUBLE) / n) * 1e12) AS BIGINT)"
        ).alias("hq"),
    )
    return (
        terms.groupBy("lang")
        .agg(
            F.round(F.sum("hq").cast("double") / F.lit(1e12), 6).alias(
                "entropy_bits"
            ),
            F.round(
                F.pow(
                    F.lit(2.0), F.sum("hq").cast("double") / F.lit(1e12)
                ),
                2,
            ).alias("effective_vocab"),
        )
        .join(F.broadcast(vocab), "lang")
        .select("lang", "entropy_bits", "effective_vocab", "raw_vocab")
    )


@query(
    "text_casing_profile",
    oracle="""
    WITH toks AS (
        SELECT source,
               UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    classed AS (
        SELECT source,
               CASE
                 WHEN tok = LOWER(tok) THEN 'lower'
                 WHEN tok = UPPER(tok) THEN 'upper'
                 WHEN tok = UPPER(SUBSTRING(tok, 1, 1))
                          || LOWER(SUBSTRING(tok, 2)) THEN 'title'
                 ELSE 'mixed'
               END AS casing
        FROM toks
    )
    SELECT source, casing,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS share
    FROM classed GROUP BY source, casing
    """,
)
def text_casing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token CASING composition per source (lower / UPPER / Title /
    miXed): shouting boilerplate and headline scrapes skew UPPER,
    code and camelCase identifiers skew mixed, clean prose sits near
    the language's natural title/lower ratio — the style census that
    catches a source flipping from articles to press releases before
    perplexity does. (Case-INSENSITIVE dedup decisions also read this
    first: high UPPER share means casefolding will merge real mass.)

    Tokens classify in-row via case-transform equality (exact,
    locale-free on ASCII-dominant fixtures) and collapse straight to
    |sources|×4 counters; shares divide exact integers per source.
    """
    from dataengineeringutils_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens_col()).alias("tok"))
    casing = (
        F.when(F.col("tok") == F.lower("tok"), "lower")
        .when(F.col("tok") == F.upper("tok"), "upper")
        .when(
            F.col("tok")
            == F.concat(
                F.upper(F.substring("tok", 1, 1)),
                F.lower(F.expr("substring(tok, 2)")),
            ),
            "title",
        )
        .otherwise("mixed")
    )
    counts = toks.select("source", casing.alias("casing")).groupBy(
        "source", "casing"
    ).agg(F.count("*").cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("source")
    return counts.select(
        "source",
        "casing",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("share"),
    )
