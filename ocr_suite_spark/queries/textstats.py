"""Text-analysis operators for the training-data pipeline: language-ID
(stopword heuristic), quality scoring, token counting, and rolling-hash
document fingerprinting (winnowing)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import DUCK_TOKENS, floor3, t, tokens_col
from .dedup import DUCK_SHINGLES

STOPWORDS = {
    "en": ("the", "and", "with", "for"),
    "es": ("los", "las", "por", "con"),
    "de": ("der", "und", "mit", "von"),
}

WINNOW_W = 4  # fingerprint window (consecutive shingle hashes)


def lang_id_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based language ID: stopword-hit counts per language, argmax with
    a fixed tie-break order (en > es > de). Pure Column expressions."""
    docs = t(spark, sf, "documents")
    toks = tokens_col(F.col("text"))
    scores = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long")
        for lang, words in STOPWORDS.items()
    }
    se, ss, sd = scores["en"], scores["es"], scores["de"]
    pred = (
        F.when((se >= ss) & (se >= sd), F.lit("en"))
        .when(ss >= sd, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        se.alias("score_en"),
        ss.alias("score_es"),
        sd.alias("score_de"),
    )


def _duck_score(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({DUCK_TOKENS}, x -> x IN ({inlist}))) AS BIGINT)"


LANG_ID_SQL = f"""
SELECT doc_id,
       CASE WHEN {_duck_score(STOPWORDS['en'])} >= {_duck_score(STOPWORDS['es'])}
             AND {_duck_score(STOPWORDS['en'])} >= {_duck_score(STOPWORDS['de'])} THEN 'en'
            WHEN {_duck_score(STOPWORDS['es'])} >= {_duck_score(STOPWORDS['de'])} THEN 'es'
            ELSE 'de' END AS pred_lang,
       {_duck_score(STOPWORDS['en'])} AS score_en,
       {_duck_score(STOPWORDS['es'])} AS score_es,
       {_duck_score(STOPWORDS['de'])} AS score_de
FROM documents
"""


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic document quality: kept-token ratio, length saturation,
    stopword ratio — combined and floored at 3 decimals."""
    docs = t(spark, sf, "documents")
    all_toks = F.filter(F.split("text", r"\s+"), lambda x: F.length(x) >= 1)
    kept = tokens_col(F.col("text"))
    stop_all = tuple(w for ws in STOPWORDS.values() for w in ws)
    n_all = F.size(all_toks).cast("long")
    n_kept = F.size(kept).cast("long")
    n_stop = F.size(F.filter(all_toks, lambda x: x.isin(*stop_all))).cast("long")
    kept_ratio = n_kept / n_all
    len_sat = F.least(n_all / F.lit(100.0), F.lit(1.0))
    stop_ratio = n_stop / n_all
    q = 0.5 * kept_ratio + 0.3 * len_sat + 0.2 * (1 - stop_ratio)
    f3 = lambda c: F.floor(c * 1000) / 1000
    return docs.select(
        "doc_id",
        n_all.alias("n_tokens"),
        n_kept.alias("n_kept"),
        f3(kept_ratio).alias("kept_ratio3"),
        f3(stop_ratio).alias("stop_ratio3"),
        f3(q).alias("quality3"),
    )


_STOP_ALL = ", ".join(f"'{w}'" for ws in STOPWORDS.values() for w in ws)

QUALITY_SQL = rf"""
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0b]+'), x -> length(x) >= 1)) AS BIGINT) AS n_tokens,
         CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_kept,
         CAST(len(list_filter(list_filter(string_split_regex(text, '[ \t\n\r\f\x0b]+'), x -> length(x) >= 1),
                              x -> x IN ({_STOP_ALL}))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens, n_kept,
       FLOOR(n_kept / n_tokens * 1000) / 1000 AS kept_ratio3,
       FLOOR(n_stop / n_tokens * 1000) / 1000 AS stop_ratio3,
       FLOOR((0.5 * (n_kept / n_tokens)
            + 0.3 * least(n_tokens / 100.0, 1.0)
            + 0.2 * (1 - n_stop / n_tokens)) * 1000) / 1000 AS quality3
FROM s
"""


def token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting three ways: whitespace split, word-regex matches, and
    a BPE-ish greedy <=4-char chunking — all JVM-side regex, no UDFs."""
    docs = t(spark, sf, "documents")
    ws = F.size(F.filter(F.split("text", r"\s+"), lambda x: F.length(x) >= 1)).cast("long")
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))).cast("long")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{1,4}"), F.lit(0))).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        words.alias("n_word_tokens"),
        bpe.alias("n_bpe_chunks"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '[ \t\n\r\f\x0b]+'), x -> length(x) >= 1)) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_chunks
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints: md5 the ordered 3-gram shingles, take the min
    hash of each sliding window of 4, dedupe — count + global min as the
    stable summary (the full set is what a plagiarism index would store).

    Formulated relationally (posexplode + window min) rather than as nested
    array lambdas: Spark does no common-subexpression elimination inside
    higher-order functions, so the lambda version re-evaluates the whole
    shingle pipeline per window element (O(n^2) per row, ~90s at sf0.01);
    this version is one explode + one window + one groupBy and also
    parallelizes across shingles at scale.
    """
    from pyspark.sql import Window as W

    from .dedup import shingle_rows

    docs = t(spark, sf, "documents")
    hs = shingle_rows(docs).select("doc_id", "pos", F.md5("sh").alias("h"))
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wins = (
        hs.select(
            "doc_id",
            F.min("h").over(w).alias("winmin"),
            F.count("h").over(w).alias("wlen"),
        )
        .where(F.col("wlen") == WINNOW_W)  # full windows only
    )
    fp = wins.groupBy("doc_id").agg(
        F.countDistinct("winmin").alias("n_fingerprints"),
        F.min("winmin").alias("min_fingerprint"),
    )
    return (
        docs.select("doc_id")
        .join(fp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_fingerprints"), F.lit(0)).cast("long").alias("n_fingerprints"),
            "min_fingerprint",
        )
    )


DOC_FP_SQL = f"""
WITH h AS (
  SELECT doc_id, list_transform({DUCK_SHINGLES}, x -> md5(x)) AS hs FROM documents
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - {WINNOW_W - 1}, 0)),
           i -> list_min(hs[i:i+{WINNOW_W - 1}])
         )) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       list_min(fps) AS min_fingerprint
FROM w
"""


# ---------------------------------------------------------------------------
# LM-perplexity quality filter (CCNet family, Wenzek et al. 2020 — public):
# score each document by its likelihood under a language model trained on
# the corpus itself, keep the head of the distribution. The production
# recipe uses a KenLM 5-gram; the relational stand-in here is the unigram
# LM (the n=1 member of the same family), whose training IS a token
# aggregation — so both training and scoring stay inside the engine.
#
# Float convention: log10 is transcendental, so engines may differ by
# 1 ulp per term and double-summation is fold-order-dependent. Each
# per-token term is floored onto a 1e-6 grid FIRST (integer-valued after
# scaling; a 1-ulp input wobble only matters in the ~1e-10 neighborhood
# of a grid point), then summed exactly as DECIMAL(38,6), divided by the
# token count, and floor3'd — the same exactness discipline as
# sampling.source_divergence.

def lm_unigram_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean log10 unigram probability under the corpus LM
    (higher = more typical text; the CCNet-style quality signal).

    Scale: one vocabulary aggregation (|V| rows), one equi-join of the
    token stream against it on the token, one per-doc aggregation — the
    same vocabulary-relation shape as source_divergence; never all-pairs,
    no window. At 10^12 docs the vocab join shuffles on the token (or
    broadcasts a pruned top-|V| vocab with an OOV floor)."""
    docs = t(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c_t"))
    n = tok.count()  # scalar corpus size (one job; a literal below)
    term = F.floor(F.log10(F.col("c_t") / F.lit(float(n))) * 1e6) / 1e6
    per_doc = (
        tok.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(term.cast("decimal(38,6)")).cast("double").alias("sum_lp"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tok",
        floor3(F.col("sum_lp") / F.col("n_tok")).alias("lm_score3"),
    )


LM_UNIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c_t FROM tok GROUP BY tok),
n AS (SELECT COUNT(*) AS n FROM tok),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_tok,
         CAST(SUM(CAST(FLOOR(log10(v.c_t / CAST(n.n AS DOUBLE)) * 1e6) / 1e6
                       AS DECIMAL(38,6))) AS DOUBLE) AS sum_lp
  FROM tok t JOIN vocab v ON t.tok = v.tok, n
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       FLOOR(sum_lp / n_tok * 1000) / 1000 AS lm_score3
FROM per_doc
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — top-K characteristic terms per document.
# Ranking key is tf/df, a strictly monotone transform of tf·idf for any
# positive idf (idf = log(N/df) is monotone decreasing in df, and so is
# 1/df) — the TOP-K SELECTION is identical to log-idf while every
# comparison stays an exact IEEE division of two integers, so no
# transcendental cross-engine drift can flip a rank. Ties break on the
# term itself for full determinism.

TFIDF_K = 5


def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K terms per document by df-normalized term frequency
    (log-free tf-idf ranking; see module comment for the equivalence).

    Scale: term-frequency and document-frequency are vocabulary-shaped
    aggregations, joined on the token; the only window partitions by
    doc_id (bounded by per-doc vocabulary). Never all-pairs, nothing
    corpus-wide in one task."""
    from pyspark.sql import Window as W

    docs = t(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy(
        (F.col("tf") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.join(df, "term")
        .withColumn("trank", F.row_number().over(w).cast("long"))
        .where(F.col("trank") <= TFIDF_K)
        .select(
            "doc_id", "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "trank",
        )
    )


TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
r AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf / df.df DESC, tf.term) AS trank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(trank AS BIGINT) AS trank
FROM r WHERE trank <= {TFIDF_K}
"""


# ---------------------------------------------------------------------------
# BM25 ranked search — the ranked upgrade of the reference's LIKE search
# (S11, viewer/search.cpp): instead of "does the text contain X", score
# every matching document with Okapi BM25 (Lucene's +1-inside-log idf
# variant, always positive even for df > N/2 — every term in this tiny
# synthetic vocabulary is high-df) and return the top SEARCH_K.
#
# Float discipline (module convention): idf is floored onto a 1e-6 grid,
# each per-(doc,term) contribution is floored onto a 1e-6 grid, the sum
# runs as DECIMAL(38,6) (exact), and the final score is floor3'd. All
# remaining float ops are single correctly-rounded IEEE expressions
# written with the SAME literal arithmetic on both engines.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("sort", "stream", "dup")  # two common terms + one rare
SEARCH_K = 20


def bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Top-SEARCH_K documents for a keyword query under BM25.

    Scale: tf is a (doc, term) aggregation FILTERED to the query terms
    before any shuffle (the stream shrinks to matching tokens at the
    scan); df is |query|-sized; dl is a per-doc count the corpus already
    shuffles for. The only global step is the final top-K — a distributed
    TakeOrdered (w1 pattern), never a full sort. The two driver-side
    scalars (N, avgdl) are single-row aggregates, same as lm's corpus n.
    """
    from pyspark.sql import Window as W

    docs = t(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    n_docs = docs.count()
    avgdl = tok.count() / n_docs
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        tok.where(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf6 = (
        F.floor(
            F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * 1e6
        )
        / 1e6
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl)
    )
    contrib = idf6 * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum((F.floor(contrib * 1e6) / 1e6).cast("decimal(38,6)"))
            .cast("double")
            .alias("s"),
        )
    )
    top = (
        scored.select("doc_id", "n_terms", floor3(F.col("s")).alias("score3"))
        .orderBy(F.col("score3").desc(), "doc_id")
        .limit(SEARCH_K)
    )
    w = W.orderBy(F.col("score3").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


_BM25_TERMS_SQL = ", ".join(f"'{q}'" for q in BM25_QUERY)

BM25_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
nt AS (SELECT COUNT(*) AS n_tok FROM tok),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(FLOOR(
           (FLOOR(ln((CAST(nd.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
                  * 1e6) / 1e6)
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl
              / (CAST(nt.n_tok AS DOUBLE) / nd.n_docs)))
         * 1e6) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), nd, nt
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, score3, rnk FROM (
  SELECT doc_id, n_terms, FLOOR(s * 1000) / 1000 AS score3,
         CAST(ROW_NUMBER() OVER (ORDER BY FLOOR(s * 1000) / 1000 DESC, doc_id)
              AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= {SEARCH_K}
"""


# ---------------------------------------------------------------------------
# BPE merge-pair counting — the inner statistic of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016): count adjacent symbol pairs
# across the corpus and rank them (training repeatedly merges the top
# pair; one exact counting pass is the distributed-expensive step, the
# merge loop is driver-side over the tiny vocab). An adjacent character
# pair IS the length-2 substring at each position, so the pair stream is
# a row-local transform + explode — no UDF.
#
# Scale: explode(tokens) → explode(2-grams) → one map-side-combined
# groupBy(pair) → global top-K via TakeOrdered (the w1/bm25 pattern:
# nothing corpus-global except K rows).

BPE_TOP_K = 50


def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Top BPE_TOP_K adjacent character pairs over the corpus token
    stream, ranked by (count desc, pair) — a total order, so the cut is
    deterministic."""
    docs = t(spark, sf, "documents")
    tok = docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    pairs = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_TOP_K)
    )


BPE_PAIRS_SQL = f"""
WITH tok AS (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
                i -> substring(tok, i, 2))) AS pair
  FROM tok
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP_K}
"""


# ---------------------------------------------------------------------------
# BPE merge LEARNING (Sennrich et al. 2016) — the actual tokenizer-
# training loop on top of the bpe_pair_counts statistic: BPE_MERGES
# rounds of (count adjacent symbol pairs → take the single most frequent
# → merge it corpus-wide), emitting the learned merge table (the
# "merges.txt" artifact of a real tokenizer).
#
# Symbol sequences are segmented strings with every symbol |-wrapped
# ('fast' → '|f||a||s||t|'): merging pair (a,b) is then the literal
# string replace '|a||b|' → '|ab|', whose leftmost-non-overlapping
# replace-all semantics (identical in Spark, DuckDB and Python — verified
# on the chained '|a||a||a||a|' case) IS BPE's greedy left-to-right merge
# order, and the wrapping makes sub-symbol false matches impossible
# (tokens are [a-z]+, so '|' never collides).
#
# Scale + exactness: each round's top pair is a 1-ROW relation consumed
# via crossJoin — broadcast literal in Spark, 1-row CTE cross join in
# DuckDB (the blocking.py in-plan-scalar discipline; NO driver-side
# collect anywhere, improving on the driver-loop form VERDICT r4
# sketched). The 1-row top relation is eagerly checkpointed per round so
# seg's lineage stays a linear chain of narrow replace maps instead of
# growing 2^rounds.
#
# Word-frequency compression (how Sennrich's reference trainer and every
# production BPE trainer actually iterate): ONE corpus pass collapses the
# token stream to the distinct-token dictionary with counts — merges
# never change a token's underlying letters, so distinct tokens stay
# distinct and the dictionary shape is loop-invariant. All merge rounds
# then run over the vocab (|V| rows, corpus-size-independent) with pair
# counts weighted by the token frequency — arithmetic-identical to
# counting over raw instances (SUM(w) over distinct tokens == COUNT(*)
# over instances), measured 8.4 → 2.6 s at sf0.1. At 100 TB this is the
# difference between 6 corpus scans and 1: the corpus pass is the
# expensive step, the rounds are vocab-sized.

BPE_MERGES = 6


def _bpe_seg(docs: DataFrame) -> DataFrame:
    """Distinct-token dictionary: (seg, w) — the |-wrapped segmentation of
    each distinct token and its corpus instance count."""
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .select(
            F.concat_ws(
                "",
                F.transform(
                    F.split("tok", ""),
                    lambda c: F.concat(F.lit("|"), c, F.lit("|")),
                ),
            ).alias("seg"),
            "w",
        )
    )


def _bpe_top_pair(seg: DataFrame) -> DataFrame:
    """1-row relation: the most frequent adjacent symbol pair, weighted by
    token frequency (count desc, then lexicographic — a total order)."""
    syms = seg.select(
        F.split(F.expr("substring(seg, 2, length(seg)-2)"), "\\|\\|").alias("ss"),
        "w",
    )
    pairs = syms.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ss") - 1),
                lambda i: F.struct(
                    F.element_at("ss", i).alias("a"),
                    F.element_at("ss", i + 1).alias("b"),
                ),
            )
        ).alias("p"),
        "w",
    ).select("p.a", "p.b", "w")
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("w").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(1)
    )


def _bpe_learn(seg: DataFrame):
    """Run BPE_MERGES greedy rounds over the (seg, w) dictionary. Returns
    (per-round 1-row merge relations, final merged dictionary)."""
    merges = []
    for step in range(1, BPE_MERGES + 1):
        top = _bpe_top_pair(seg).localCheckpoint(eager=True)  # 1 row
        merges.append(
            top.select(
                F.lit(step).cast("long").alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                "n",
            )
        )
        # materialize the merged segmentation per round: recomputing it
        # lazily makes round r re-run r replace passes (O(rounds²) corpus
        # scans — measured 13.8 s vs ~7 s at sf0.1); at cluster scale this
        # is the persist-per-iteration every iterative job does
        seg = (
            seg.crossJoin(F.broadcast(top))
            .select(
                F.replace(
                    "seg",
                    F.concat(
                        F.lit("|"), F.col("a"), F.lit("||"), F.col("b"), F.lit("|")
                    ),
                    F.concat(F.lit("|"), F.col("a"), F.col("b"), F.lit("|")),
                ).alias("seg"),
                "w",
            )
            .localCheckpoint(eager=False)
        )
    return merges, seg


def bpe_merge_learn(spark: SparkSession, sf: str) -> DataFrame:
    """The learned BPE merge table after BPE_MERGES greedy rounds:
    (step, left_sym, right_sym, merged, n) — n is the pair's corpus count
    at the time it was chosen."""
    # checkpoint the dictionary itself: without this every round's lineage
    # bottoms out at the corpus scan (6 scans); with it the corpus is read
    # exactly once and all rounds are vocab-sized (5.1 -> 2.6 s at sf0.1)
    seg = _bpe_seg(t(spark, sf, "documents")).localCheckpoint(eager=False)
    merges, _ = _bpe_learn(seg)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


# bpe_encode_stats — the APPLY half of the tokenizer pipeline: tokenize
# the corpus with the merges bpe_merge_learn just trained and emit the
# resulting vocab frequency table (symbol, corpus count) for the
# BPE_ENCODE_TOP most frequent symbols — the artifact a tokenizer ships
# alongside merges.txt, and the standard sanity check that training
# actually compressed the stream. Same one-corpus-pass shape: encoding
# runs over the distinct-token dictionary with frequency weights, so the
# apply step costs |V| regardless of corpus size. Top-K by (n DESC, sym)
# is a total order, so the LIMIT boundary is engine-stable.

BPE_ENCODE_TOP = 30


def bpe_encode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Vocab frequency table after applying the learned BPE merges:
    (sym, n) — the BPE_ENCODE_TOP most frequent post-merge symbols."""
    seg = _bpe_seg(t(spark, sf, "documents")).localCheckpoint(eager=False)
    _, final = _bpe_learn(seg)
    syms = final.select(
        F.explode(
            F.split(F.expr("substring(seg, 2, length(seg)-2)"), "\\|\\|")
        ).alias("sym"),
        "w",
    )
    return (
        syms.groupBy("sym")
        .agg(F.sum("w").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "sym")
        .limit(BPE_ENCODE_TOP)
    )


def _bpe_cte_chain() -> tuple[list[str], list[str]]:
    """The unrolled BPE_MERGES-round CTE chain (shared by both BPE
    oracles): per round a pair-count CTE, a 1-row LIMIT 1 top CTE (same
    total order as Spark's) and the corpus-wide replace cross-joined
    against it. Returns (CTE parts, per-round top-pair SELECTs). The SQL
    side counts over raw token instances — arithmetic-identical to the
    Spark side's frequency-weighted dictionary, which is the point of
    keeping the oracle derivation independent."""
    parts = [f"""WITH s0 AS (
  SELECT '|' || array_to_string(string_split(tok, ''), '||') || '|' AS seg
  FROM (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents)
)"""]
    tops = []
    for r in range(1, BPE_MERGES + 1):
        prev = f"s{r - 1}"
        parts.append(f"""p{r} AS (
  SELECT unnest(ss[1:len(ss)-1]) AS a, unnest(ss[2:len(ss)]) AS b
  FROM (SELECT string_split(seg[2:len(seg)-1], '||') AS ss FROM {prev})
),
t{r} AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM p{r} GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1
),
s{r} AS (
  SELECT replace(seg, '|' || t{r}.a || '||' || t{r}.b || '|',
                 '|' || t{r}.a || t{r}.b || '|') AS seg
  FROM {prev}, t{r}
)""")
        tops.append(
            f"SELECT CAST({r} AS BIGINT) AS step, a AS left_sym, b AS right_sym,"
            f" a || b AS merged, n FROM t{r}"
        )
    return parts, tops


def _bpe_merge_sql() -> str:
    parts, tops = _bpe_cte_chain()
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(tops)


def _bpe_encode_sql() -> str:
    """Symbol frequencies of the FINAL segmentation s{BPE_MERGES}."""
    parts, _ = _bpe_cte_chain()
    return (
        ",\n".join(parts)
        + f"""
SELECT sym, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(seg[2:len(seg)-1], '||')) AS sym
      FROM s{BPE_MERGES})
GROUP BY sym
ORDER BY n DESC, sym
LIMIT {BPE_ENCODE_TOP}"""
    )


BPE_MERGE_SQL = _bpe_merge_sql()
BPE_ENCODE_SQL = _bpe_encode_sql()


# ---------------------------------------------------------------------------
# DSIR data selection — hashed n-gram importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling" — public).
# The recipe: featurize every document as a bag of hashed n-grams (word
# unigrams + bigrams here, the paper's features), estimate a bucket
# distribution p from the TARGET corpus and q from the RAW corpus (both
# Laplace-smoothed), and weight each raw document by its log likelihood
# ratio sum_b c_b(x) * (log p_b - log q_b). High scores = "looks like the
# target"; resampling by these weights is the selection step. The target
# here is the corpus' own lang='en' slice (the in-engine analog of the
# paper's Wikipedia target); raw is the full corpus.
#
# Float discipline (module convention, see lm_unigram_score): each bucket's
# log-ratio is ONE log10 of an exact-integer ratio (both numerator and
# denominator are BIGINT products, exact in double below 2^53 — holds
# through sf1), floored onto a 1e-6 grid; the per-doc sum runs as
# DECIMAL(38,6) (exact), is length-normalized, and floor3'd.
#
# Scale: the bucket table is <= DSIR_BUCKETS rows by construction — a
# broadcast — and the two corpus passes are map-side-combinable
# aggregations of the gram stream. Nothing is all-pairs; at 10^12 docs the
# only shuffles are the bucket-count combine and the per-doc aggregation.

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def _dsir_bigrams(toks: Column) -> Column:
    """Ordered 2-token grams of the normalized token list (shingles_col
    with K=2; kept local so dedup's K=3 constant stays single-purpose)."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document DSIR importance score: length-normalized sum of
    hashed-n-gram log likelihood ratios against the lang='en' target.

    Scale: one gram-stream aggregation into <= DSIR_BUCKETS rows (both
    distributions in the SAME groupBy — c_p is just the target-flagged
    partial sum), 1-row totals broadcast, bucket table broadcast back onto
    the gram stream, one per-doc aggregation. No window, never all-pairs."""
    docs = t(spark, sf, "documents")
    # Materialize the token array in its OWN projection: _dsir_bigrams
    # references the array O(n_tokens) times inside a lambda, and Catalyst
    # does not CSE inside higher-order functions — inlining the regex
    # tokenizer there re-tokenizes each doc per element (measured 26x on
    # the gram-stream pass at sf0.1). Multiple references to a non-cheap
    # alias block CollapseProject, so `tk` stays a bound attribute.
    base = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).cast("long").alias("is_t"),
        tokens_col(F.col("text")).alias("tk"),
    )
    tk = F.col("tk")
    gb = base.select(
        "doc_id",
        "is_t",
        F.explode(F.concat(tk, _dsir_bigrams(tk))).alias("gm"),
    ).select(
        "doc_id",
        "is_t",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("gm")), 1, 8), 16, 10).cast("long"),
            F.lit(DSIR_BUCKETS),
        ).alias("bucket"),
    )
    cnt = gb.groupBy("bucket").agg(
        F.count("*").alias("c_q"), F.sum("is_t").alias("c_p")
    )
    tot = cnt.agg(F.sum("c_q").alias("n_q"), F.sum("c_p").alias("n_p"))
    lam_term = (
        F.floor(
            F.log10(
                ((F.col("c_p") + 1) * (F.col("n_q") + DSIR_BUCKETS)).cast("double")
                / ((F.col("c_q") + 1) * (F.col("n_p") + DSIR_BUCKETS)).cast("double")
            )
            * 1e6
        )
        / 1e6
    )
    lam = cnt.crossJoin(F.broadcast(tot)).select("bucket", lam_term.alias("lam"))
    per = (
        gb.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.col("lam").cast("decimal(38,6)")).cast("double").alias("s"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(
                floor3(F.col("s") / F.col("n_grams")), F.lit(0.0)
            ).alias("dsir_score3"),
        )
    )


DSIR_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, {DUCK_TOKENS} AS tk FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS is_t,
         unnest(list_concat(tk, list_transform(
           generate_series(1, greatest(len(tk) - 1, 0)),
           i -> tk[i] || ' ' || tk[i+1]))) AS gm
  FROM tk
),
gb AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substr(md5(gm), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM g
),
cnt AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_q,
         CAST(SUM(is_t) AS BIGINT) AS c_p
  FROM gb GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(c_q) AS BIGINT) AS n_q, CAST(SUM(c_p) AS BIGINT) AS n_p
  FROM cnt
),
lam AS (
  SELECT bucket,
         FLOOR(log10(CAST((c_p + 1) * (n_q + {DSIR_BUCKETS}) AS DOUBLE)
                     / CAST((c_q + 1) * (n_p + {DSIR_BUCKETS}) AS DOUBLE))
               * 1e6) / 1e6 AS lam
  FROM cnt, tot
),
per AS (
  SELECT gb.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CAST(lam AS DECIMAL(38,6))) AS DOUBLE) AS s
  FROM gb JOIN lam USING (bucket)
  GROUP BY gb.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       COALESCE(FLOOR(per.s / per.n_grams * 1000) / 1000, 0.0) AS dsir_score3
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


QUERIES = {
    "lang_id_ngram": (lang_id_ngram, LANG_ID_SQL),
    "bpe_pair_counts": (bpe_pair_counts, BPE_PAIRS_SQL),
    "bpe_merge_learn": (bpe_merge_learn, BPE_MERGE_SQL),
    "bpe_encode_stats": (bpe_encode_stats, BPE_ENCODE_SQL),
    "bm25_search": (bm25_search, BM25_SQL),
    "quality_score": (quality_score, QUALITY_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FP_SQL),
    "lm_unigram_score": (lm_unigram_score, LM_UNIGRAM_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "dsir_importance": (dsir_importance, DSIR_SQL),
}
