"""Deduplication operators over the documents/embeddings tables — the
training-data-pipeline layer (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup), each with a DuckDB oracle.

Cross-engine hashing: everything is keyed on md5 hex strings (identical in
Spark and DuckDB); min-over-hex-strings == min-over-values because the hex
length is fixed. No engine-specific hash functions in oracle-checked paths.

Scale notes are in each docstring: shingle explosion is the dominant cost;
LSH banding turns all-pairs O(n^2) into per-bucket joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import DUCK_TOKENS, floor3, t, tokens_col

N_MINHASH = 8
SHINGLE_K = 3

# DuckDB fragment: ordered 3-token shingles from the normalized token list
DUCK_SHINGLES = (
    f"list_transform(generate_series(1, greatest(len({DUCK_TOKENS}) - 2, 0)), "
    f"i -> {DUCK_TOKENS}[i] || ' ' || {DUCK_TOKENS}[i+1] || ' ' || {DUCK_TOKENS}[i+2])"
)


def shingles_col(text: Column) -> Column:
    """Ordered 3-token shingles (with multiplicity) of the normalized tokens."""
    toks = tokens_col(text)
    return F.when(
        F.size(toks) >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SHINGLE_K),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, pos, sh): ordered 3-token shingles, relationally.

    posexplode the normalized tokens once, then lead() over (doc_id, pos) —
    Spark performs no common-subexpression elimination inside array lambdas,
    so the nested-transform formulation re-tokenizes the document per shingle
    (quadratic per row); this version tokenizes exactly once and the window
    shuffle on doc_id is the same shuffle every downstream agg needs anyway.
    """
    from pyspark.sql import Window as W

    tk = docs.select(
        "doc_id", "lang", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        tk.select(
            "doc_id",
            "lang",
            "pos",
            F.concat_ws(
                " ", F.col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
            ).alias("sh"),
            F.lead("tok", 2).over(w).alias("_t2"),
        )
        .where(F.col("_t2").isNotNull())
        .drop("_t2")
    )


def _duck_minhash(s: int) -> str:
    return (
        f"list_min(list_transform(shingles, x -> md5('{s}|' || x))) AS mh{s}"
    )


# ---------------------------------------------------------------------------
# exact dedup (reference A4: INSERT OR IGNORE dictionary, database.cpp:62-67)


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-groupBy exact dedup: one group per distinct text, keeper = min id.

    At 10^12 docs this is one shuffle on md5(text) — the cheapest dedup; AQE
    coalesces the post-shuffle partitions.
    """
    docs = t(spark, sf, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_dups"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""

# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs


def dedup_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc MinHash signature and the two LSH band keys.

    One shingle explode + one groupBy with 8 min-aggregates (map-side
    partial aggregation makes the shuffle carry only 8 hashes per doc).
    """
    sh = shingle_rows(t(spark, sf, "documents"))
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(f"mh{s}")
            for s in range(N_MINHASH)
        ]
    )
    band0 = F.md5(F.concat_ws("", *[F.col(f"mh{i}") for i in range(0, 4)]))
    band1 = F.md5(F.concat_ws("", *[F.col(f"mh{i}") for i in range(4, 8)]))
    return sig.select(
        "doc_id", "mh0", "mh7", band0.alias("band0"), band1.alias("band1")
    )


_DUCK_SIG = f"""
  SELECT doc_id, {', '.join(_duck_minhash(s) for s in range(N_MINHASH))}
  FROM (SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents)
  WHERE len(shingles) > 0
"""

DEDUP_MINHASH_SIG_SQL = f"""
WITH sig AS ({_DUCK_SIG})
SELECT doc_id, mh0, mh7,
       md5(mh0 || mh1 || mh2 || mh3) AS band0,
       md5(mh4 || mh5 || mh6 || mh7) AS band1
FROM sig
"""


def dedup_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any band signature.

    Scale: self-join per band key — O(sum over buckets of bucket^2), not
    O(n^2); hot buckets (boilerplate-heavy corpora) would be AQE-skew-split.
    """
    sig = dedup_minhash_signature(spark, sf)
    bands = sig.select(
        "doc_id", F.explode(F.array(F.col("band0"), F.col("band1"))).alias("band")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


DEDUP_MINHASH_PAIRS_SQL = f"""
WITH sig AS ({_DUCK_SIG}),
bands AS (
  SELECT doc_id, unnest([md5(mh0 || mh1 || mh2 || mh3),
                         md5(mh4 || mh5 || mh6 || mh7)]) AS band
  FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""

# ---------------------------------------------------------------------------
# SimHash (16-bit, token-weighted)


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash: bit j is the sign of sum over tokens of +-1 keyed on
    the top bit of hex digit j of md5(token). One explode + one groupBy."""
    docs = t(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    h = F.md5("tok")
    sums = [
        F.sum(
            F.when(F.substring(h, j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


_DUCK_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN substr(md5(tok), {j + 1}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s" + str(j)
    for j in range(16)
)
_DUCK_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
)

DEDUP_SIMHASH_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents),
agg AS (SELECT doc_id, {_DUCK_SIMHASH_SUMS} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({_DUCK_SIMHASH_FP} AS BIGINT) AS simhash FROM agg
"""

# ---------------------------------------------------------------------------
# n-gram Jaccard similarity on candidate pairs


# Hot-shingle document-frequency cap: shingles appearing in more than this
# many documents are boilerplate (headers, licenses, templates) — they blow
# up the inverted-index self-join quadratically per shingle while carrying
# no near-dup signal. Dropping them BEFORE the join is the standard skew
# defense on boilerplate-heavy corpora (AQE skew-split then handles what's
# left). 5 here so the path is exercised at test SF (max DF is 8 at
# sf0.01); production corpora use 10^3-10^4. The capped sets are used for
# BOTH candidate generation and Jaccard scoring, so the score is the
# Jaccard of the rare-shingle sets — the oracle mirrors this exactly.
MAX_SHINGLE_DF = 5


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Jaccard over distinct 3-gram shingle sets (document
    frequency <= MAX_SHINGLE_DF), restricted to same-lang pairs sharing at
    least one surviving shingle.

    Scale: the shingle equi-join IS the candidate generator (inverted
    index); all-pairs never materializes. Jaccard from |A∩B| and set sizes.
    """
    docs = t(spark, sf, "documents")
    sh_all = shingle_rows(docs).select("doc_id", "lang", "sh").distinct()
    # hot-shingle cap: the `hot` side is tiny by construction (only shingles
    # above the DF cap), so AQE broadcasts the anti-join build side
    hot = (
        sh_all.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > MAX_SHINGLE_DF)
        .select("sh")
    )
    # Materialize the capped shingle set ONCE: it feeds four plan positions
    # (both self-join sides + both size lookups), and Spark performs no
    # common-subplan sharing — without this the explode+window+DF-agg
    # subtree executes four times (read in the r2 plan audit). Same
    # localCheckpoint discipline as dedup_clusters; at cluster scale this
    # is a checkpoint to HDFS or a staged table.
    sh = sh_all.join(hot, "sh", "left_anti").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    # NO broadcast hint on `sizes`: it is corpus-sized (one row per doc),
    # so pinning it as a broadcast would OOM at 10^12 docs — let AQE pick
    # broadcast below its threshold and shuffled hash join above it
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.floor(
                    F.col("n_common")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
                    * 1000
                )
                / 1000
            ).alias("jaccard3"),
        )
    )
    return j


DEDUP_JACCARD_SQL = f"""
WITH sh_all AS (
  SELECT doc_id, lang, unnest(list_distinct({DUCK_SHINGLES})) AS sh FROM documents
),
hot AS (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF}),
sh AS (SELECT * FROM sh_all WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b
    ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       FLOOR(n_common / (sa.sz + sb.sz - n_common) * 1000) / 1000 AS jaccard3
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
"""

# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates (same-label blocking)


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in float64 — same summation order as
    DuckDB's list_dot_product loop, so results are bit-comparable."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


COS_THRESHOLD = 0.2  # with label×bucket blocking, 0.2 keeps ~71 pairs at
# sf0.01, so the gate exercises real value comparison (r1's 0.5 passed
# vacuously on 0 rows); production near-dup sweeps would sit at 0.9+ on
# real embeddings

def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by embedding cosine >= COS_THRESHOLD within the same
    (label, ANN sign-bucket) block.

    Blocking history: r2 blocked on label alone (block-quadratic in label
    frequency); r3 on label × a FIXED 4-bit sign bucket (bounded by bucket
    occupancy — but occupancy itself grew linearly with n, leaving the
    within-block term Θ(n²/16)); r4 blocks on label × an
    OCCUPANCY-BOUNDED bucket (blocking.py): the bit-width scales with
    log2(n / TARGET_OCCUPANCY), so expected block population stays ~32 at
    ANY corpus size and total scoring work is O(n x occupancy) — linear in
    n. The label factor only shrinks blocks further. Recall trade, stated:
    a near-dup pair straddling a sign hyperplane is missed — per-hyperplane
    collision probability is 1 − θ/π (for cos=0.9, θ≈0.45 rad → ~0.86 per
    bit); `knn_self_join` shows the multi-probe recovery for the tail, and
    a second rotated bucket table is the standard production answer.

    The vector NORM is precomputed per row BEFORE the join — per pair only
    the cross dot product remains (one higher-order fold instead of three;
    same floats, same results: sqrt(dot(a,a)) is factored, not
    approximated).
    """
    from .blocking import with_occupancy_bucket

    emb = with_occupancy_bucket(
        t(spark, sf, "embeddings").select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    emb = emb.withColumn("nrm", F.sqrt(_dot(F.col("e"), F.col("e"))))
    a, b = emb.alias("a"), emb.alias("b")
    cos = _dot(F.col("a.e"), F.col("b.e")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.floor(cos * 1000) / 1000).alias("cos3"),
        )
        .where(F.col("cos3") >= COS_THRESHOLD)
    )


from .blocking import duck_adaptive_bucket_expr, duck_bits_cte  # noqa: E402

DEDUP_EMB_COS_SQL = f"""
WITH {duck_bits_cte("embeddings")},
e AS (
  SELECT vec_id, label, bk, emb, sqrt(list_dot_product(emb, emb)) AS nrm
  FROM (SELECT vec_id, label, {duck_adaptive_bucket_expr("emb2", "b")} AS bk,
               emb2 AS emb
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb2, nb.b AS b
              FROM embeddings, nb))
)
SELECT vec_a, vec_b, cos3 FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) * 1000) / 1000 AS cos3
  FROM e a JOIN e b ON a.label = b.label AND a.bk = b.bk AND a.vec_id < b.vec_id
)
WHERE cos3 >= {COS_THRESHOLD}
"""




# ---------------------------------------------------------------------------
# repeated-passage detection (exact-substring dedup, Lee et al. 2021 style)

MIN_PASSAGE_RUN = 3  # >=3 consecutive duplicated 3-shingles = >=5 shared tokens


def dedup_passages(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated PASSAGES within documents: maximal runs of
    consecutive 3-shingles that also occur in at least one other document
    — the span-level counterpart of doc-level near-dup (public
    methodology: 'Deduplicating Training Data Makes Language Models
    Better', Lee et al. 2021, which removes repeated substrings rather
    than whole documents). Output (doc_id, start_pos, end_pos,
    n_shingles) is the removal list a curation pass would cut.

    Scale: shingle DF is one aggregation; the duplicated-position set
    comes back via a LEFT SEMI join on the shingle (no fan-out — each
    position appears once regardless of how many docs share the
    shingle); runs are grouped with the classic gaps-and-islands key
    (pos − row_number), a per-document window bounded by doc length.
    """
    from pyspark.sql import Window as W

    docs = t(spark, sf, "documents")
    sh = shingle_rows(docs).select("doc_id", "pos", "sh")
    dup_sh = (
        sh.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("sh")
    )
    dup_pos = sh.join(dup_sh, "sh", "left_semi")
    w = W.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn("rk", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "rk")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.max("pos").cast("long").alias("end_pos"),
            F.count("*").cast("long").alias("n_shingles"),
        )
        .where(F.col("n_shingles") >= MIN_PASSAGE_RUN)
        .select("doc_id", "start_pos", "end_pos", "n_shingles")
    )


DEDUP_PASSAGES_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         generate_subscripts({DUCK_SHINGLES}, 1) - 1 AS pos,
         unnest({DUCK_SHINGLES}) AS sh
  FROM documents
),
dup_sh AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
  FROM sh WHERE sh IN (SELECT sh FROM dup_sh)
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(pos) AS BIGINT) AS end_pos,
       CAST(COUNT(*) AS BIGINT) AS n_shingles
FROM runs GROUP BY doc_id, rk HAVING COUNT(*) >= {MIN_PASSAGE_RUN}
"""


# ---------------------------------------------------------------------------
# dedup clusters: connected components over the candidate-pair graph


def dedup_clusters(
    spark: SparkSession, sf: str, max_rounds: int | None = None
) -> DataFrame:
    """Connected components over the MinHash candidate-pair graph by
    iterative min-label propagation — turns near-dup PAIRS into dedup
    CLUSTERS with a canonical keeper (cluster_id = min doc_id reachable).

    The iterative Spark pattern: each round joins labels across edges,
    takes the elementwise min, and stops when no label changed. Rounds
    needed = graph diameter; ``max_rounds`` defaults to the node count —
    a guaranteed-sufficient bound (diameter < |V|), so legitimate long
    chains converge instead of erroring (ADVICE r1), while the loop still
    exits on the first no-change round (near-dup clusters are shallow, so
    in practice a handful of rounds). localCheckpoint() per round
    truncates the exploding lineage — THE standard discipline for
    driver-iterated algorithms (at scale: checkpoint to HDFS instead).
    Scale: each round is one shuffle join on doc_id; GraphFrames'
    connectedComponents does the same dance with alternation
    optimizations.
    """
    pairs = dedup_minhash_pairs(spark, sf)
    # undirected edge list, both directions
    e_ab = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = e_ab.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    if max_rounds is None:
        # diameter < |V| always; the count is one cheap job over the
        # checkpointed node set and the loop exits on first quiescence
        max_rounds = max(labels.count(), 1)
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_rounds} rounds "
            "(unreachable with the default |V| bound; indicates a non-"
            "deterministic edge set)"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# DuckDB oracle: transitive closure via recursive CTE; cluster id = min
# reachable node. UNION (not UNION ALL) deduplicates visited pairs so the
# recursion terminates on cyclic (undirected) graphs.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairs AS ({DEDUP_MINHASH_PAIRS_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------------------
# keeper selection: apply the clusters back to the corpus


def dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup story's last mile: drop every cluster member except the
    canonical keeper (cluster_id == min reachable doc_id) and return the
    surviving corpus. One anti-join against the (tiny relative to corpus)
    non-keeper set — docs that never entered a candidate pair are keepers
    by definition and never join."""
    clusters = dedup_clusters(spark, sf)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    docs = t(spark, sf, "documents")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


DEDUP_KEEP_SQL = f"""
WITH RECURSIVE
pairs AS ({DEDUP_MINHASH_PAIRS_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
"""


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the first dedup every web-crawl pipeline
# runs (CCNet / CommonCrawl practice): re-crawls of one page differ only
# in scheme, www, trailing slash, tracking params, or fragment; normalize
# the URL and keep one doc per canonical form. The corpus has no URL
# column, so one is SYNTHESIZED deterministically (pii_scrub pattern) from
# (source, doc_id % URL_PATHS) plus md5-chosen variant noise — both
# engines build byte-identical URLs, so the oracle grades the
# CANONICALIZATION + keeper choice, not the synthesis.

# distinct paths per host. The path must be md5-derived, NOT doc_id % k:
# source is src(doc_id % 20) in the testdata, so any modular path is
# doc_id-aligned and the (source, path) space collapses to lcm cells —
# either near-total dedup or none. Hash digits are independent of the
# residue, giving a birthday-style ~30% duplicate rate at test SF.
URL_PATHS = 30


def dedup_url_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: its (synthetic) crawl URL, the canonical form, and
    whether it is the kept representative (min doc_id per canonical URL).

    Scale: canonicalization is a row-local regexp chain (zero shuffle);
    the dedup itself is ONE shuffle on the canonical URL — the cheapest
    possible dedup key, which is why real pipelines run it before any
    content hashing."""
    docs = t(spark, sf, "documents")
    h = F.md5(F.concat(F.lit("url:"), F.col("doc_id").cast("string")))
    scheme = F.when(F.substring(h, 1, 1) < "8", F.lit("https")).otherwise(F.lit("http"))
    www = F.when(F.substring(h, 2, 1) < "8", F.lit("www.")).otherwise(F.lit(""))
    slash = F.when(F.substring(h, 3, 1) < "8", F.lit("/")).otherwise(F.lit(""))
    utm = F.when(F.substring(h, 4, 1) < "4", F.lit("?utm_source=feed")).otherwise(
        F.lit("")
    )
    frag = F.when(F.substring(h, 5, 1) < "4", F.lit("#top")).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        F.lit("://"),
        www,
        F.col("source"),
        F.lit(".example/p"),
        ((F.ascii(F.substring(h, 6, 1)) * 10 + F.ascii(F.substring(h, 7, 1)))
         % URL_PATHS).cast("string"),
        slash,
        utm,
        frag,
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(url, r"^https?://(www\.)?", ""), r"[?#].*$", ""
        ),
        r"/$",
        "",
    )
    urls = docs.select("doc_id", url.alias("url"), canon.alias("canon_url"))
    keep = urls.groupBy("canon_url").agg(F.min("doc_id").alias("keeper_id"))
    return urls.join(keep, "canon_url").select(
        "doc_id",
        "url",
        "canon_url",
        "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).cast("long").alias("is_keeper"),
    )


# DuckDB regexp_replace substitutes the FIRST match by default — equivalent
# here because all three patterns are anchored / single-match.
DEDUP_URL_SQL = f"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN substr(md5('url:' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
          THEN 'https' ELSE 'http' END)
    || '://'
    || (CASE WHEN substr(md5('url:' || CAST(doc_id AS VARCHAR)), 2, 1) < '8'
             THEN 'www.' ELSE '' END)
    || source || '.example/p'
    || CAST((ascii(substr(md5('url:' || CAST(doc_id AS VARCHAR)), 6, 1)) * 10
             + ascii(substr(md5('url:' || CAST(doc_id AS VARCHAR)), 7, 1)))
            % {URL_PATHS} AS VARCHAR)
    || (CASE WHEN substr(md5('url:' || CAST(doc_id AS VARCHAR)), 3, 1) < '8'
             THEN '/' ELSE '' END)
    || (CASE WHEN substr(md5('url:' || CAST(doc_id AS VARCHAR)), 4, 1) < '4'
             THEN '?utm_source=feed' ELSE '' END)
    || (CASE WHEN substr(md5('url:' || CAST(doc_id AS VARCHAR)), 5, 1) < '4'
             THEN '#top' ELSE '' END) AS url
  FROM documents
),
c AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(regexp_replace(url,
           '^https?://(www\\.)?', ''), '[?#].*$', ''), '/$', '') AS canon_url
  FROM u
),
k AS (SELECT canon_url, MIN(doc_id) AS keeper_id FROM c GROUP BY canon_url)
SELECT c.doc_id, c.url, c.canon_url, k.keeper_id,
       CAST(CASE WHEN c.doc_id = k.keeper_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_keeper
FROM c JOIN k USING (canon_url)
"""


# ---------------------------------------------------------------------------
# Per-document duplicated-substring PROFILE (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better" — public).
# dedup_passages above emits the REMOVAL LIST (cross-doc duplicated
# 3-shingle runs); this operator is its filter-feature complement: per doc,
# how much of it is duplicated anywhere in the corpus — the signal a
# curation pass thresholds to DROP boilerplate-heavy docs instead of
# cutting spans. Differences from dedup_passages, all deliberate: K=8
# grams (the paper's longer-context regime), the duplicate test counts
# TOTAL occurrences (within-doc repeats count — a doc repeating its own
# paragraph is boilerplate too), and duplicated windows merge by OVERLAP
# (gap <= K), Lee et al.'s span union at K-bounded resolution — the
# standard distributed trade for the suffix array, disclosed.
#
# Scale: a posexplode + a doc_id window build the gram stream. The
# executed plan (sf0.01, local[4]) holds TWO posexplode nodes, so the
# tokenizer runs twice per doc: the per-doc n_grams count and the dup
# join share one doc_id exchange (ReusedExchange), while the COUNT on gh
# (the duplicate test, map-side combined) builds its own. The join back
# to the duplicate set is keyed on gh; span merging is doc_id-local.
# Never all-pairs, no driver action.

SUBSTR_K = 8


def dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplicated-substring profile: of the n_grams K-token
    grams, how many start positions are corpus-duplicated (n_dup_grams),
    how many maximal duplicated spans they merge into (n_dup_spans —
    windows closer than K tokens overlap/touch and merge), and the
    duplicated fraction (floor3). Reference analog: the dictionary-side
    duplicate test of A4 (database.cpp:62-67) applied at span rather than
    document granularity."""
    from pyspark.sql import Window as W

    docs = t(spark, sf, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    last = F.lead("tok", SUBSTR_K - 1).over(w)
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, SUBSTR_K - 1)
    ] + [last]
    g = (
        tk.select(
            "doc_id", "pos", F.concat_ws(" ", *parts).alias("gm"), last.alias("_t")
        )
        .where(F.col("_t").isNotNull())
        .select("doc_id", "pos", F.md5("gm").alias("gh"))
    )
    cnt = g.groupBy("gh").agg(F.count("*").alias("c"))
    dup = g.join(cnt.where(F.col("c") > 1).select("gh"), "gh").select("doc_id", "pos")
    per_g = g.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    prev = F.lag("pos").over(W.partitionBy("doc_id").orderBy("pos"))
    per_d = (
        dup.select(
            "doc_id",
            "pos",
            (prev.isNull() | (F.col("pos") - prev > SUBSTR_K)).cast("long").alias(
                "new_span"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_dup_grams"),
            F.sum("new_span").cast("long").alias("n_dup_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_g, "doc_id", "left")
        .join(per_d, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce(
                floor3(F.col("n_dup_grams") / F.col("n_grams")), F.lit(0.0)
            ).alias("dup_frac3"),
        )
    )


_DUCK_KGRAM = " || ' ' || ".join(f"tk[i+{j}]" if j else "tk[i]" for j in range(SUBSTR_K))

DEDUP_SUBSTR_SQL = f"""
WITH tkl AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
g AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(len(tk) - {SUBSTR_K - 1}, 0))) AS pos,
         unnest(list_transform(
           generate_series(1, greatest(len(tk) - {SUBSTR_K - 1}, 0)),
           i -> {_DUCK_KGRAM})) AS gm
  FROM tkl
),
gh AS (SELECT doc_id, pos, md5(gm) AS gh FROM g),
c AS (SELECT gh, COUNT(*) AS c FROM gh GROUP BY gh),
d AS (SELECT gh.doc_id, gh.pos FROM gh JOIN c USING (gh) WHERE c.c > 1),
sp AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM d
),
per_d AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > {SUBSTR_K}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM sp GROUP BY doc_id
),
per_g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM gh GROUP BY doc_id)
SELECT docs.doc_id,
       COALESCE(per_g.n_grams, 0) AS n_grams,
       COALESCE(per_d.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(per_d.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(FLOOR(per_d.n_dup_grams * 1.0 / per_g.n_grams * 1000) / 1000, 0.0)
         AS dup_frac3
FROM documents docs
LEFT JOIN per_g ON docs.doc_id = per_g.doc_id
LEFT JOIN per_d ON docs.doc_id = per_d.doc_id
"""


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_url_canonical": (dedup_url_canonical, DEDUP_URL_SQL),
    "dedup_keep_canonical": (dedup_keep_canonical, DEDUP_KEEP_SQL),
    "dedup_minhash_signature": (dedup_minhash_signature, DEDUP_MINHASH_SIG_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, DEDUP_MINHASH_PAIRS_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_passages": (dedup_passages, DEDUP_PASSAGES_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_COS_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "dedup_substring_spans": (dedup_substring_spans, DEDUP_SUBSTR_SQL),
}
