"""Text-analysis queries over the documents table (LLM-pipeline surface).

Each query binds an operator from ``operators.textanalysis`` to the
documents fixture with a DuckDB oracle built from the shared fragments
(same constants, same arithmetic shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textanalysis as ta
from ..sources.tables import fan_out, load_table, sql_over_views
from . import _fragments as fr
from ._lifecycle import release_after_materialize
from .registry import query


@query(
    "text_token_count",
    f"""
    SELECT doc_id,
           {fr.N_TOKENS}                        AS n_tokens,
           CAST(length({fr.NORM}) AS BIGINT)    AS n_chars_norm
    FROM documents
    """,
    doc="Whitespace token counting (the BPE-ish regex variant is in "
    "text_quality_score's punct handling). Pure codegen'd expressions -- "
    "scan-speed at any corpus size.",
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        ta.token_count("text").alias("n_tokens"),
        F.length(ta.norm_text("text")).cast("long").alias("n_chars_norm"),
    )


@query(
    "text_quality_score",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length({fr.NORM}) AS BIGINT) AS n_chars,
             {fr.N_TOKENS}                     AS n_tokens,
             {fr.N_PUNCT}                      AS n_punct,
             {fr.N_STOP}                       AS n_stop
      FROM documents)
    SELECT doc_id, n_chars, n_tokens,
           CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_punct AS DOUBLE) / n_chars                   AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens                   AS stop_ratio,
           0.4 * (CAST(n_stop AS DOUBLE) / n_tokens)
             + 0.3 * least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8.0, 1.0)
             + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS quality_score
    FROM m
    """,
    doc="Gopher/C4-style quality heuristics: length, punctuation ratio, "
    "stopword ratio, composite score. All counts are exact integers; "
    "ratios are single double divisions (cross-engine stable).",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    m = ta.quality_metrics("text")
    return d.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["avg_token_len"].alias("avg_token_len"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stop_ratio"].alias("stop_ratio"),
        m["quality_score"].alias("quality_score"),
    )


@query(
    "text_lang_id",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {fr.lang_hits("en")} AS en_hits,
             {fr.lang_hits("es")} AS es_hits,
             {fr.lang_hits("de")} AS de_hits,
             {fr.lang_hits("fr")} AS fr_hits,
             {fr.lang_hits("zh")} AS zh_hits
      FROM documents)
    SELECT doc_id, lang AS labeled_lang, en_hits, es_hits, de_hits, fr_hits, zh_hits,
           {fr.lang_case()} AS predicted_lang
    FROM h
    """,
    doc="Stopword-marker language ID: per-language hit counts + argmax with "
    "deterministic tie-break. The synthetic corpus is English-vocab for "
    "all labels, so predictions skew 'en' -- the oracle verifies the "
    "operator, not the corpus labels.",
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            ta.marker_hits("text", ta.LANG_MARKERS[lang]).alias(f"{lang}_hits")
            for lang in ta.LANG_ORDER
        ],
        ta.lang_id("text").alias("predicted_lang"),
    )


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           list_aggregate(
             list_transform(range(1, greatest(length({fr.NORM}) - 7, 1) + 1, 4),
                            i -> md5(substr({fr.NORM}, i, 8))),
             'min') AS fingerprint
    FROM documents
    """,
    doc="Winnowing-style rolling fingerprint: min md5 over strided char "
    "8-grams. Used for fast near-dup prefiltering at scale (fingerprint "
    "equality ==> high overlap candidate).",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", ta.fingerprint("text").alias("fingerprint"))


@query(
    "text_token_count_bpe",
    f"""
    SELECT doc_id,
           {fr.N_BPE_TOKENS} AS n_bpe_tokens,
           {fr.N_TOKENS}     AS n_ws_tokens
    FROM documents
    """,
    doc="BPE-ish pre-tokenization count (GPT-2-style regex: contraction "
    "suffixes, letter runs, digit runs, punctuation runs) next to the "
    "whitespace count -- the pair estimates tokens-per-word inflation "
    "for training-data budgeting. regexp_count is a codegen'd JVM "
    "expression; the oracle counts the identical RE2-compatible "
    "pattern's matches.",
    tags=("text", "tokens", "bpe"),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        ta.bpe_token_count("text").alias("n_bpe_tokens"),
        ta.token_count("text").alias("n_ws_tokens"),
    )


@query(
    "corpus_curation_pipeline",
    f"""
    WITH ranked AS (
      SELECT doc_id, text, source,
             row_number() OVER (PARTITION BY md5({fr.NORM}) ORDER BY doc_id) AS rn
      FROM documents),
    surv AS (SELECT doc_id, text, source FROM ranked WHERE rn = 1),
    feats AS (
      SELECT doc_id, source,
             CAST(length({fr.NORM}) AS BIGINT) AS n_chars,
             {fr.N_TOKENS}                     AS n_tokens,
             {fr.N_BPE_TOKENS}                 AS n_bpe,
             {fr.N_PUNCT}                      AS n_punct,
             {fr.N_STOP}                       AS n_stop,
             {fr.lang_hits("en")} AS en_hits, {fr.lang_hits("es")} AS es_hits,
             {fr.lang_hits("de")} AS de_hits, {fr.lang_hits("fr")} AS fr_hits,
             {fr.lang_hits("zh")} AS zh_hits
      FROM surv),
    scored AS (
      SELECT doc_id, source, n_tokens, n_bpe,
             0.4 * (CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8.0, 1.0)
               + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS q,
             {fr.lang_case()} AS plang
      FROM feats)
    SELECT source,
           count(*)         AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT)    AS total_bpe_tokens,
           min(q)           AS min_quality,
           max(q)           AS max_quality
    FROM scored
    WHERE plang = 'en' AND q >= 0.5
    GROUP BY source
    """,
    doc="End-to-end training-corpus curation in ONE declarative plan: "
    "exact dedup (min-id survivor per normalized hash) -> language "
    "gate -> quality gate -> per-source token accounting. Catalyst "
    "fuses the filters into the post-dedup projection, so the corpus "
    "is scanned once and shuffled twice (dedup window, final agg) "
    "regardless of how many gates are added. Aggregates are exact "
    "integer sums and min/max doubles -- order-independent, so the "
    "result is reproducible at any parallelism (a double sum of "
    "scores would not be).",
    tags=("text", "dedup", "pipeline"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import survivors

    # no fan_out here (r16): the survivors window re-shuffles by text
    # hash immediately, so a round-robin pre-shuffle of the raw text
    # only parallelized the pre-window md5 while paying a full extra
    # exchange of the corpus -- paired-sample probe measured the
    # fan_out-free form 1.15x (the heavy metric projection below runs
    # AFTER the window exchange, on full parallelism either way)
    d = load_table(spark, sf_dir, "documents")
    surv = survivors(d, "doc_id", "text")
    # fused let-bound metric struct (r16): one norm_text pass and one
    # split per row; composing the single-metric builders re-evaluated
    # those subtrees per consumer reference inside the lang_id CASE
    # chain, where conditional branches block codegen subexpression
    # elimination (measured 1.17x, value-identical -- see
    # textanalysis.curation_metrics)
    m = ta.curation_metrics("text")
    scored = surv.select("source", m.alias("m")).select(
        "source",
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.n_bpe").alias("n_bpe"),
        F.col("m.quality_score").alias("q"),
        F.col("m.predicted_lang").alias("plang"),
    )
    return (
        scored.filter((F.col("plang") == "en") & (F.col("q") >= 0.5))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
        )
    )


@query(
    "text_quality_quantile_gate",
    f"""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(length({fr.NORM}) AS BIGINT) AS n_chars,
             {fr.N_TOKENS}                     AS n_tokens,
             {fr.N_PUNCT}                      AS n_punct,
             {fr.N_STOP}                       AS n_stop
      FROM documents),
    s AS (
      SELECT doc_id, lang,
             0.4 * (CAST(n_stop AS DOUBLE) / n_tokens)
               + 0.3 * least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 8.0, 1.0)
               + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars) AS q
      FROM m),
    r AS (
      SELECT lang, doc_id, q,
             percent_rank() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS pr
      FROM s)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           min(q) AS min_q_kept,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE pr <= 0.25 GROUP BY lang
    """,
    doc="Quantile-gated quality filtering: keep each language's top "
    "quartile by composite quality score (percent_rank windowed per "
    "lang, doc_id tie-break so the cut is deterministic). The "
    "percentile-threshold curation shape -- absolute score cutoffs "
    "don't transfer across languages, rank cutoffs do. One window "
    "shuffle on lang; min/count/sum outputs are engine-exact.",
    tags=("text", "quality", "window", "llm-pipeline"),
)
def text_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = fan_out(load_table(spark, sf_dir, "documents"))
    m = ta.quality_metrics("text")
    s = d.select("doc_id", "lang", m["quality_score"].alias("q"))
    w = Window.partitionBy("lang").orderBy(F.desc("q"), "doc_id")
    r = s.withColumn("pr", F.percent_rank().over(w))
    return (
        r.where(F.col("pr") <= 0.25)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("q").alias("min_q_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


@query(
    "udtf_word_histogram",
    """
    SELECT doc_id, term, n FROM (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents)
      WHERE term <> ''
      GROUP BY doc_id, term)
    WHERE n >= 5
    """,
    doc="Python UDTF seam (SURVEY 2.10 -- the table-function third of the "
    "UDF/UDAF/UDTF triple, next to pandas_udf_scalar and "
    "grouped_map_rank): a @udtf class lateral-joined against the "
    "documents scan emits one (term, n) row per frequent term per "
    "document. Arrow-optimized transfer is scoped to this UDTF via "
    "useArrow=True (no session conf mutation). Semantics are "
    "deliberately relational (explode+groupBy "
    "would express them natively) so the DuckDB oracle can check the "
    "seam itself; a production UDTF would carry logic SQL cannot "
    "(tokenizers, parsers). Per-partition streaming emit -- no state, "
    "scan-parallel at any corpus size.",
    tags=("text", "udtf", "lateral"),
)
def udtf_word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections import Counter

    from pyspark.sql.functions import lit, udtf

    # useArrow on the decorator scopes Arrow transfer to THIS UDTF --
    # no session-wide pythonUDTF.arrow.enabled mutation that would leak
    # into other UDTFs run later in the same session (ADVICE r4)
    @udtf(returnType="term string, n bigint", useArrow=True)
    class WordHistogram:
        def eval(self, text: str, min_n: int):
            for term, n in Counter((text or "").split(" ")).items():
                if term and n >= min_n:
                    yield term, n

    spark.udtf.register("word_histogram", WordHistogram)
    return sql_over_views(
        spark,
        sf_dir,
        "SELECT d.doc_id, h.term, h.n FROM documents d, LATERAL word_histogram(d.text, 5) h",
        ("documents",),
    )


#: Fixed retrieval query terms for text_tfidf_topk -- all present in the
#: fixture vocabulary at every SF.
_QUERY_TERMS = ("spark", "join", "fast")


@query(
    "text_tfidf_topk",
    f"""
    WITH tok AS (SELECT doc_id, unnest({fr.TOKENS}) AS term FROM documents),
    q AS (SELECT doc_id, term, count(*) AS tf
          FROM tok WHERE term IN ('spark', 'join', 'fast')
          GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM q GROUP BY term)
    SELECT q.doc_id,
           CAST(sum(q.tf * 1000000 // d.df) AS BIGINT) AS score_scaled
    FROM q JOIN dfreq d USING (term)
    GROUP BY q.doc_id
    ORDER BY score_scaled DESC, q.doc_id
    LIMIT 20
    """,
    doc="Sparse retrieval scoring (TF-IDF shape) for query-driven corpus "
    "curation: per-document term frequencies for a fixed query, inverse "
    "document frequency as EXACT integer arithmetic (tf * 1e6 div df -- "
    "no floating-point log, so the oracle hash-matches bit-for-bit), "
    "top-k by (score, doc_id). Scale shape: the term filter prunes the "
    "exploded tokens before any shuffle, df is a tiny broadcast, and "
    "top-k is TakeOrderedAndProject -- never a global sort.",
    tags=("text", "retrieval", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(ta.tokens("text")).alias("term")
    ).filter(F.col("term").isin(*_QUERY_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("tf * 1000000 div df")).alias("score_scaled"))
        .orderBy(F.desc("score_scaled"), "doc_id")
        .limit(20)
    )


@query(
    "text_inverted_index",
    f"""
    WITH tok AS (SELECT DISTINCT doc_id, term
                 FROM (SELECT doc_id, unnest({fr.TOKENS}) AS term FROM documents)),
    agg AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
    ranked AS (SELECT term, doc_id,
                      row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
               FROM tok)
    SELECT a.term, CAST(a.df AS BIGINT) AS df,
           string_agg(CAST(r.doc_id AS VARCHAR), ',' ORDER BY r.doc_id) AS postings
    FROM agg a JOIN ranked r ON r.term = a.term AND r.rn <= 10
    WHERE a.df >= 50
    GROUP BY a.term, a.df
    """,
    doc="Inverted-index build (posting lists), the foundation of sparse "
    "retrieval over a training corpus: distinct (term, doc) pairs -> "
    "per-term document frequency + the first 10 postings (sorted, "
    "comma-joined so the oracle compares exact strings). Posting lists "
    "are CAPPED in the demo to bound row width; at 100 TB the full "
    "lists shard by (term, bucket(doc_id)) instead -- the groupBy "
    "shape is identical.",
    tags=("text", "retrieval", "index"),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = (
        d.select("doc_id", F.explode(ta.tokens("text")).alias("term"))
        .distinct()
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.sort_array(F.collect_set("doc_id")), 1, 10),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 50)
    )


def _cls_weight_sql() -> str:
    """DuckDB lambda body mirroring hashed_linear_score's weight."""
    from ..operators.textanalysis import CLS_DIM, CLS_MOD, _CLS_MIX

    b = f"{fr.hex8_value('md5(t)')} % {CLS_DIM}"
    return f"(({b}) * {_CLS_MIX} % {CLS_MOD} - {(CLS_MOD - 1) // 2}) / 1024.0"


@query(
    "text_quality_classifier",
    f"""
    WITH z AS (
      SELECT doc_id, lang, {fr.N_TOKENS} AS n_tokens,
             CASE WHEN {fr.N_TOKENS} = 0 THEN 0.0
                  ELSE list_aggregate(list_transform({fr.TOKENS},
                           t -> {{w}}), 'sum') / {fr.N_TOKENS}
             END AS act
      FROM documents)
    SELECT doc_id, lang, n_tokens,
           round(0.5 * (1 + act / (1 + abs(act))), 6) AS score,
           CASE WHEN 0.5 * (1 + act / (1 + abs(act))) > 0.5
                THEN 'keep' ELSE 'drop' END AS label
    FROM z
    """.replace("{w}", _cls_weight_sql()),
    doc="FastText-style quality-classifier inference: hashing-trick token "
    "buckets -> implicit integer-derived weights -> mean activation -> "
    "rational sigmoid. Entirely narrow JVM expressions (one HOF fold "
    "per doc, zero shuffles) -- the linear-model-inference plan shape "
    "for 100 TB corpus filtering; production swaps the implicit weight "
    "function for a broadcast trained-weight map "
    "(operators/textanalysis.py hashed_linear_score). Exact-dyadic "
    "weights make the fold order-invariant, so both engines agree "
    "bit-for-bit before any rounding.",
    tags=("text", "quality", "classifier", "ml"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    act = ta.hashed_linear_score("text")
    score = ta.fast_sigmoid(act)
    return docs.select(
        "doc_id",
        "lang",
        ta.token_count("text").alias("n_tokens"),
        F.round(score, 6).alias("score"),
        F.when(score > 0.5, "keep").otherwise("drop").alias("label"),
    )


@query(
    "text_bm25_topk",
    f"""
    WITH dl AS (SELECT doc_id, {fr.N_TOKENS} AS dl FROM documents),
    stats AS (SELECT sum(dl) AS t, count(*) AS n FROM dl),
    tok AS (SELECT doc_id, unnest({fr.TOKENS}) AS term FROM documents),
    q AS (SELECT doc_id, term, count(*) AS tf
          FROM tok WHERE term IN ('spark', 'join', 'fast')
          GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM q GROUP BY term),
    scored AS (
      SELECT q.doc_id,
             (((s.n - d.df + 1) * 1000000 // (d.df + 1))
              * (22 * s.t * q.tf))
             // (10 * s.t * q.tf + 3 * s.t + 9 * l.dl * s.n) AS s_term
      FROM q JOIN dfreq d USING (term)
             JOIN dl l USING (doc_id)
             CROSS JOIN stats s)
    SELECT doc_id, CAST(sum(s_term) AS BIGINT) AS bm25_scaled
    FROM scored GROUP BY doc_id
    ORDER BY bm25_scaled DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 retrieval scoring (k1=1.2, b=0.75), the production sparse "
    "ranker: per-term score with document-length normalization, every "
    "operand INTEGER -- k1/b rationals are cleared by scaling numerator "
    "and denominator by 10*T (num = 22*T*tf; den = 10*T*tf + 3*T + "
    "9*dl*N), idf is the integer-ratio surrogate of text_tfidf_topk -- "
    "so both engines agree bit-for-bit with no log/float anywhere. "
    "Corpus stats (T, N) are a broadcast scalar; df broadcasts; the "
    "term filter prunes before any shuffle; top-k is TakeOrdered. "
    "(Rare-term overflow bound: idf_scaled*num < 2^63 holds for the "
    "common-term queries this models; DECIMAL(38) is the escape hatch.)",
    tags=("text", "retrieval", "bm25"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    dl = d.select("doc_id", ta.token_count("text").alias("dl"))
    stats = dl.agg(F.sum("dl").alias("t"), F.count(F.lit(1)).alias("n"))
    tok = d.select("doc_id", F.explode(ta.tokens("text")).alias("term")).filter(
        F.col("term").isin(*_QUERY_TERMS)
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "(((n - df + 1) * 1000000 div (df + 1)) * (22 * t * tf))"
                " div (10 * t * tf + 3 * t + 9 * dl * n)"
            ).alias("s_term"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s_term").cast("long").alias("bm25_scaled"))
        .orderBy(F.desc("bm25_scaled"), "doc_id")
        .limit(20)
    )


@query(
    "text_pmi_collocations",
    f"""
    WITH tok AS (SELECT string_split({fr.NORM}, ' ') AS tk
                 FROM documents WHERE length({fr.NORM}) > 0),
    big AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
            FROM tok, UNNEST(range(1, len(tk))) r(i) WHERE len(tk) >= 2),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cx
            FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
    nu AS (SELECT CAST(sum(cx) AS DOUBLE) AS n FROM uni),
    np AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM big),
    pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
           FROM big GROUP BY 1, 2)
    SELECT w1, w2, cxy,
           round(ln((CAST(cxy AS DOUBLE) / np.n)
                    / ((CAST(ua.cx AS DOUBLE) / nu.n)
                       * (CAST(ub.cx AS DOUBLE) / nu.n))), 6) AS pmi
    FROM pc JOIN uni ua ON ua.w = pc.w1
            JOIN uni ub ON ub.w = pc.w2
            CROSS JOIN nu CROSS JOIN np
    WHERE cxy >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    doc="Pointwise-mutual-information collocation mining: adjacent-token "
    "bigram counts vs unigram marginals, PMI-ranked top 20 (min support "
    "5). The phrase-discovery step of corpus analysis / tokenizer "
    "curricula. Bigram expansion is a narrow per-doc HOF (no explode of "
    "the corpus before counting -- pairs aggregate map-side); the only "
    "data-sized shuffles are the two vocabulary-bounded groupBys. The "
    "PMI ratio is evaluated with an identical IEEE operation order in "
    "both engines; ln is the lone transcendental and is fenced by the "
    "6 dp round.",
    tags=("text", "pmi", "collocations", "llm-pipeline"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select(ta.tokens("text").alias("tk")).filter(
        F.length(ta.norm_text("text")) > 0
    )
    big = (
        tok.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    uni = (
        tok.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    nu = uni.agg(F.sum("cx").cast("double").alias("n_uni"))
    np_ = big.agg(F.count(F.lit(1)).cast("double").alias("n_pairs"))
    pc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    ua = uni.select(F.col("w").alias("w1"), F.col("cx").alias("cx1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cx").alias("cx2"))
    pmi = F.round(
        F.log(
            (F.col("cxy").cast("double") / F.col("n_pairs"))
            / (
                (F.col("cx1").cast("double") / F.col("n_uni"))
                * (F.col("cx2").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return (
        pc.filter(F.col("cxy") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(np_))
        .select("w1", "w2", "cxy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(
    "tokenizer_bpe_merge_pairs",
    f"""
    WITH tok AS (SELECT string_split({fr.NORM}, ' ') AS tk
                 FROM documents WHERE length({fr.NORM}) > 0),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT unnest(tk) AS w FROM tok)
           WHERE length(w) >= 2 GROUP BY 1),
    pairs AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
              FROM wc, UNNEST(range(1, length(w))) r(i))
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n_merge
    FROM pairs GROUP BY 1
    ORDER BY n_merge DESC, pair LIMIT 20
    """,
    doc="The pair-statistics step of BPE tokenizer training: corpus "
    "word frequencies, then every adjacent symbol pair weighted by word "
    "frequency, top-20 merge candidates (the argmax of round 1; "
    "training iterates this with the winning pair merged). The corpus "
    "collapses to the vocabulary in the FIRST groupBy -- pair expansion "
    "runs over distinct words, not raw tokens, so the expensive stage "
    "is bounded by |vocab| at any corpus size. Pure integer counts; "
    "character-indexed substr agrees across engines.",
    tags=("text", "bpe", "tokenizer", "llm-pipeline"),
)
def tokenizer_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select(ta.tokens("text").alias("tk")).filter(
        F.length(ta.norm_text("text")) > 0
    )
    wc = (
        tok.select(F.explode("tk").alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n_merge"))
        .orderBy(F.desc("n_merge"), "pair")
        .limit(20)
    )


@query(
    "text_zipf_fit",
    f"""
    WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
                FROM (SELECT unnest(string_split({fr.NORM}, ' ')) AS w
                      FROM documents WHERE length({fr.NORM}) > 0)
                GROUP BY 1),
    ranked AS (SELECT freq, CAST(row_number() OVER (
                   ORDER BY freq DESC, w) AS BIGINT) AS rnk FROM wc),
    pts AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
                   round(ln(CAST(freq AS DOUBLE)), 9) AS y
            FROM ranked WHERE rnk <= 200),
    s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    doc="Zipf's-law fit of the corpus vocabulary: log-log OLS of "
    "frequency vs rank over the top 200 terms (slope near -1 for "
    "natural language; sharp deviation flags boilerplate/spam corpora "
    "-- a standard corpus-health check before tokenizer training). "
    "The corpus collapses to the vocabulary in one groupBy, the top-200 "
    "rank cut bounds the fit input, and each ln is rounded at 9 dp "
    "before the closed-form sums so the transcendental is fenced in "
    "both engines.",
    tags=("text", "zipf", "corpus-stats", "llm-pipeline"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = fan_out(load_table(spark, sf_dir, "documents"))
    wc = (
        d.filter(F.length(ta.norm_text("text")) > 0)
        .select(F.explode(ta.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # orderBy+limit (TakeOrdered top-k, no global sort of the whole
    # vocabulary); the rank window runs over only the surviving 200
    top = wc.orderBy(F.desc("freq"), "w").limit(200)
    ranked = top.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("freq"), "w")).cast("long")
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(num * num / (den * (n * syy - sy * sy)), 6).alias("r2"),
    )


@query(
    "text_bigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, string_split({fr.NORM}, ' ') AS tk
                 FROM documents WHERE length({fr.NORM}) > 0),
    big AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
            FROM tok, UNNEST(range(1, len(tk))) r(i) WHERE len(tk) >= 2),
    c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS n1
           FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vs FROM c1),
    scored AS (SELECT b.doc_id,
                      round(ln((CAST(c2.n2 AS DOUBLE) + 1)
                               / (CAST(c1.n1 AS DOUBLE) + vs)), 9) AS lp
               FROM big b JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
                          JOIN c1 ON c1.w = b.w1
                          CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lp) / count(*), 6) AS avg_logprob
    FROM scored GROUP BY 1
    """,
    doc="Bigram language-model fluency score (the perplexity-proxy "
    "quality filter): add-one-smoothed P(w2|w1) trained on the corpus "
    "itself, per-doc mean log-probability. Low scores flag boilerplate "
    "and token salad that n-char heuristics miss. The count tables are "
    "vocabulary/bigram-vocabulary bounded (broadcastable against a "
    "100 TB corpus); each ln is 9-dp-rounded before the per-doc mean "
    "so the transcendental is fenced.",
    tags=("text", "lm", "quality", "llm-pipeline"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.filter(F.length(ta.norm_text("text")) > 0).select(
        "doc_id", ta.tokens("text").alias("tk")
    )
    big = (
        tok.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2), "
                    "i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = (
        tok.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    v = c1.agg(F.count(F.lit(1)).alias("vs"))
    lp = F.round(
        F.log(
            (F.col("n2").cast("double") + 1) / (F.col("n1").cast("double") + F.col("vs"))
        ),
        9,
    )
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )


@query(
    "feature_hash_vector",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split({fr.NORM}, ' ')) AS w
                 FROM documents
                 WHERE length({fr.NORM}) > 0 AND doc_id < 50)
    SELECT doc_id,
           CAST({fr.hex8_value("md5(w || '#fh')")} % 64 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2
    """,
    doc="Feature hashing (the hashing trick): tokens mapped straight to "
    "a fixed 64-dim count vector by salted content hash -- no vocabulary "
    "pass, no fit state, unbounded-vocab-safe, the standard cheap "
    "featurizer for classifier gates at corpus scale. Shown for the "
    "first 50 docs (value-checkable long form); one narrow projection "
    "plus one bounded groupBy.",
    tags=("text", "feature-hashing", "llm-pipeline"),
)
def feature_hash_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = (
        d.filter((F.length(ta.norm_text("text")) > 0) & (F.col("doc_id") < 50))
        .select("doc_id", F.explode(ta.tokens("text")).alias("w"))
    )
    h = F.md5(F.concat(F.col("w"), F.lit("#fh")))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 64).alias("bucket")
    return tok.select("doc_id", bucket).groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "text_keywords_per_doc",
    f"""
    WITH tok AS (SELECT doc_id, unnest({fr.TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok
           WHERE length(term) >= 4 AND term NOT IN ({fr.sql_list(ta.STOPWORDS)})
           GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (SELECT tf.doc_id, tf.term,
                      CAST(tf.tf * 1000000 // d.df AS BIGINT) AS score_scaled
               FROM tf JOIN dfreq d USING (term)),
    ranked AS (SELECT *, CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_scaled DESC, term) AS BIGINT) AS rank
               FROM scored)
    SELECT doc_id, term, score_scaled, rank FROM ranked WHERE rank <= 3
    """,
    doc="Per-document keyword extraction: top-3 terms by integer-exact "
    "tf*idf (tf * 1e6 div df -- no float log, bit-exact across "
    "engines) over the full vocabulary, stopwords and short tokens "
    "excluded. The document-tagging/labeling step of corpus curation, "
    "dual to text_tfidf_topk's query-driven retrieval. The rank window "
    "partitions by doc_id (parallel across documents, never global); "
    "df is a vocabulary-bounded broadcast.",
    tags=("text", "keywords", "tfidf", "llm-pipeline"),
)
def text_keywords_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = fan_out(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(ta.tokens("text")).alias("term"))
    tf = (
        tok.filter(
            (F.length("term") >= 4) & (~F.col("term").isin(*ta.STOPWORDS))
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term", F.expr("tf * 1000000 div df").alias("score_scaled")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_scaled"), "term")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= 3
    )


@query(
    "text_ngram_novelty",
    f"""
    WITH tok AS (SELECT doc_id, string_split({fr.NORM}, ' ') AS tk
                 FROM documents WHERE length({fr.NORM}) > 0),
    sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
                    AS shingle
           FROM tok, UNNEST(range(1, len(tk) - 1)) r(i) WHERE len(tk) >= 3),
    sdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df,
                   min(doc_id) AS only_doc FROM sh GROUP BY 1),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
            FROM sh GROUP BY 1),
    uni AS (SELECT only_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_unique
            FROM sdf WHERE df = 1 GROUP BY 1)
    SELECT t.doc_id, t.n_shingles,
           coalesce(u.n_unique, 0) AS n_unique,
           round(CAST(coalesce(u.n_unique, 0) AS DOUBLE) / t.n_shingles, 6)
             AS novelty
    FROM tot t LEFT JOIN uni u USING (doc_id)
    """,
    doc="Cross-document n-gram novelty: per doc, the fraction of its "
    "distinct 3-gram shingles that appear in NO other document -- the "
    "redundancy profile that tells a corpus curator how much of each "
    "doc is boilerplate shared with the rest (novelty near 0) vs "
    "original text (near 1), upstream of any dedup decision. A df=1 "
    "shingle belongs to exactly one doc, so min(doc_id) in the SAME "
    "df aggregate attributes it -- no join back on the wide shingle "
    "key (the first formulation did, and ran 8x slower); both "
    "aggregates are domain-bounded and meet at a doc-level left join.",
    tags=("text", "novelty", "redundancy", "llm-pipeline"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc 4-column result vs the corpus-sized shingle cache:
    # materialize it, release the cache (ADVICE r6)
    return release_after_materialize(*_build_text_ngram_novelty(spark, sf_dir))


def _build_text_ngram_novelty(spark: SparkSession, sf_dir: str):
    """(result, *caches) -- pre-checkpoint plan for the invariant tests."""
    from ..operators import dedup as dd

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # the shingle long form feeds two aggregates; persist so the
    # tokenize+shingle HOFs run once (the minhash-pipeline convention)
    sh = (
        dd.token_shingles(d, "doc_id", "text", k=3)
        .withColumnRenamed("id", "doc_id")
        .persist()
    )
    sdf = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc")
    )
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    uni = (
        sdf.filter(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    result = tot.join(uni, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.round(
            F.coalesce("n_unique", F.lit(0)).cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    )
    return result, sh


@query(
    "text_readability_score",
    f"""
    WITH m AS (
      SELECT doc_id,
             {fr.N_TOKENS} AS n_words,
             CAST(greatest(len(regexp_extract_all({fr.NORM}, '[.!?]+')), 1)
                  AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all({fr.NORM}, '[aeiouy]+'))
                  AS BIGINT) AS n_vgroups
      FROM documents WHERE length({fr.NORM}) > 0)
    SELECT doc_id, n_words, n_sents, n_vgroups,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_vgroups AS DOUBLE) / n_words), 4)
             AS flesch_score
    FROM m WHERE n_words > 0
    """,
    doc="Flesch reading-ease scoring: words per sentence + vowel-group "
    "syllable proxy per word, the readability gate next to the "
    "Gopher-style heuristics (very low scores flag legalese/generated "
    "sludge; implausibly high ones flag token salad). All three counts "
    "are exact integers from the SAME regex engine semantics "
    "(RE2-compatible character classes), the score is two IEEE "
    "divisions and fixed-order arithmetic, fenced at 4 dp. Pure "
    "codegen'd scan -- scan-speed at any corpus size.",
    tags=("text", "readability", "quality", "llm-pipeline"),
)
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    norm = ta.norm_text("text")
    n_words = ta.token_count("text")
    n_sents = F.greatest(
        F.size(F.regexp_extract_all(norm, F.lit("[.!?]+"), 0)).cast("long"),
        F.lit(1),
    )
    n_vgroups = F.size(F.regexp_extract_all(norm, F.lit("[aeiouy]+"), 0)).cast("long")
    m = d.filter(F.length(norm) > 0).select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_vgroups.alias("n_vgroups"),
    )
    return m.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_vgroups",
        F.round(
            206.835
            - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
            - 84.6 * (F.col("n_vgroups").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch_score"),
    )
