"""LLM-training-data pipeline operators (SURVEY.md §2.10, north-star
mandate): dedup, similarity search, text analysis over the documents /
embeddings corpus.

Scale design (the point of these at 100 TB):
- exact dedup: hash-groupBy — shuffle on sha256, no pairwise anything.
- near-dup: MinHash+LSH is the scale path (candidates via band-bucket
  equi-join, O(n) shuffle) with exact Jaccard verification only on
  candidates; the all-pairs Jaccard operator exists as the correctness
  yardstick and is quadratic by construction (correctness tier only).
- kNN: brute-force cosine is the exact baseline (one broadcast of the query
  vector, no shuffle, TakeOrdered top-k); the LSH/IVF variant lives in
  operators/ann.py.
- all vector arithmetic stays JVM-side via higher-order functions
  (zip_with/aggregate fold) — verified bit-identical to DuckDB's
  list_dot_product, no UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.determinism import davg, o_davg, o_dsum
from ..plans.registry import query
from ..session import scoped_persist
from ..tables import load

# Fixtures have no duplicate texts at sf0.01 (FIXTURES.md) — dedup/near-dup
# corpora synthesize copies by re-tagging a deterministic slice.
_COPY_OFFSET = 1_000_000


def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + _COPY_OFFSET
    )
    return d.unionAll(copies)


_CORPUS_SQL = f"""
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
"""

# --- ext_dedup_hash ---------------------------------------------------------

_DEDUP_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT sha256(text) AS text_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM corpus
GROUP BY text_hash
"""


@query("ext_dedup_hash", oracle=_DEDUP_ORACLE, tier=2)
def ext_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus dedup by content hash: one hash-shuffle, keep-first.
    The 100 TB shape: shuffle keys are 32-byte digests, never the text."""
    corpus = _corpus_with_dups(spark, sf_dir)
    return corpus.groupBy(F.sha2("text", 256).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- ext_knn_cosine ---------------------------------------------------------


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    """Sequential left-to-right fold — bit-identical to DuckDB's
    list_dot_product (verified empirically on the fixtures)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


_KNN_ORACLE = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(qv, qv))) AS cos_sim
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT vec_id, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


@query("ext_knn_cosine", oracle=_KNN_ORACLE, tier=2)
def ext_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 cosine neighbors of vec_id=0: broadcast the
    query vector, score JVM-side, TakeOrdered top-k (no global sort)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qv")
    )
    ed = _as_double(F.col("embedding"))
    qd = F.col("qv")
    cos = _dot(ed, qd) / (F.sqrt(_dot(ed, ed)) * F.sqrt(_dot(qd, qd)))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# --- ext_knn_per_label ------------------------------------------------------

_KNN_LABEL_ORACLE = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT label, vec_id,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(qv, qv))) AS cos_sim
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT * FROM (
  SELECT label, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY label ORDER BY cos_sim DESC, vec_id ASC
         ) AS BIGINT) AS rn
  FROM scored
) WHERE rn <= 3
"""


@query("ext_knn_per_label", oracle=_KNN_LABEL_ORACLE, tier=3)
def ext_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-group top-k: score once, window top-3 per label
    (partial top-k per partition under AQE — no global sort)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        _as_double("embedding").alias("qv")
    )
    ed = _as_double(F.col("embedding"))
    qd = F.col("qv")
    cos = _dot(ed, qd) / (F.sqrt(_dot(ed, ed)) * F.sqrt(_dot(qd, qd)))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("label", "vec_id", cos.alias("cos_sim"))
    )
    w = W.partitionBy("label").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


# --- ext_text_stats ---------------------------------------------------------

_TEXT_STATS_ORACLE = f"""
WITH per_doc AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         {o_davg("n_chars", "avg_chars")}
  FROM documents GROUP BY lang
), vocab AS (
  SELECT lang,
         COUNT(DISTINCT token) AS vocab_size,
         COUNT(*) AS total_tokens
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY lang
)
SELECT per_doc.lang, n_docs, avg_chars, vocab_size, total_tokens
FROM per_doc JOIN vocab ON per_doc.lang = vocab.lang
"""


@query("ext_text_stats", oracle=_TEXT_STATS_ORACLE, tier=2)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per language: docs, mean length, vocabulary, tokens."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars"),
    )
    vocab = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang")
        .agg(
            F.countDistinct("token").alias("vocab_size"),
            F.count(F.lit(1)).alias("total_tokens"),
        )
    )
    return per_doc.join(vocab, "lang")


# --- ext_tfidf --------------------------------------------------------------

# Scores are ln-based; ln differs by <=1 ulp across libm implementations, so
# ranking and output both use the 6-dp-rounded score (deterministic on both
# sides; token breaks residual ties).
_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
), n_docs AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM tok
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS docfreq FROM tok GROUP BY token
), tf AS (
  SELECT lang, token, COUNT(*) AS termfreq FROM tok GROUP BY lang, token
), scored AS (
  SELECT lang, tf.token,
         round(termfreq * ln((n + 1.0) / (docfreq + 1.0)), 6) AS score
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n_docs
)
SELECT * FROM (
  SELECT lang, token, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY score DESC, token ASC
         ) AS BIGINT) AS rn
  FROM scored
) WHERE rn <= 5
"""


@query("ext_tfidf", oracle=_TFIDF_ORACLE, tier=3)
def ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per language — pure relational (explode, two
    aggregations, broadcast df join, window top-k)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    n_docs = tok.select(F.countDistinct("doc_id").alias("n"))
    df_tbl = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("docfreq"))
    tf_tbl = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("termfreq"))
    scored = (
        tf_tbl.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "token",
            F.round(
                F.col("termfreq") * F.log((F.col("n") + 1.0) / (F.col("docfreq") + 1.0)),
                6,
            ).alias("score"),
        )
    )
    w = W.partitionBy("lang").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


# --- ext_neardup_jaccard ----------------------------------------------------

# Near-dup similarity is over 3-token SHINGLES, not unigram token sets: the
# fixture vocabulary is tiny, so unrelated documents share most unigrams
# (unigram Jaccard >= 0.6 for ~26k pairs at sf0.01 — degenerate). Shingles
# are the standard text near-dup unit and keep high Jaccard meaning "same
# passage", not "same dialect".
#
# Quadratic all-pairs yardstick (correctness tier ONLY; the scale path is
# ext_neardup_minhash_lsh below, whose verified output must contain every
# pair found here — asserted in tests/test_semantics.py).
_JACCARD_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus
),
tok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS token
  FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.6
"""


_SHINGLES_FROM_T = (
    "CASE WHEN size(t) >= 3 THEN "
    "transform(sequence(0, size(t) - 3), "
    "i -> concat_ws(' ', t[i], t[i+1], t[i+2])) ELSE array() END"
)


def _shingle_tokens(corpus: DataFrame) -> DataFrame:
    """3-token shingle set per doc. `split` is materialized as a column FIRST
    so the per-shingle lambda reads an attribute, not a re-evaluated split —
    the naive inline form re-splits the whole text per output element, which
    is O(tokens²) per document and dominated the sf0.1 bench. widen_scan:
    the shingle explode is CPU-dense and otherwise runs at the scan's task
    count (one row-group = one core; measured A/B win, unlike the cheap
    token explodes where the extra shuffle loses)."""
    from ..session import widen_scan

    toks = widen_scan(corpus).select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    )
    return toks.select(
        "doc_id", "lang", F.explode(F.expr(_SHINGLES_FROM_T)).alias("token")
    ).distinct()


def _hashed_shingle_tokens(
    corpus: DataFrame, distinct: bool = True
) -> DataFrame:
    """Distinct 64-bit-hashed shingles per doc, for sketch operators that
    never need the shingle string back (minhash, simhash): hash BEFORE the
    distinct so the dedup shuffle moves fixed 8-byte longs instead of
    variable-length shingle strings. Equal shingles hash equal, so the
    distinct set is the same as hashing after dedup (modulo xxhash64
    collisions, which only merge shingles). Collision bound: with d distinct
    shingles, expected colliding pairs ~= d^2/2^65; at a 100 TB corpus
    (d ~ 10^12) that is ~10^4 merged shingle pairs among 10^12 — a ~1e-8
    relative perturbation of any Jaccard/minhash statistic, far below the
    LSH banding noise floor. If even that matters, key the exact-verify
    join on (length(token), th) to push the merge risk to ~2^-128.

    ``distinct=False`` skips the dedup shuffle for consumers that fold the
    dedup into their own per-doc aggregate (``collect_set`` / duplicate-
    insensitive ``min``) — one shuffle of the shingle table instead of two.
    widen_scan: as in :func:`_shingle_tokens`."""
    from ..session import widen_scan

    toks = widen_scan(corpus).select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    )
    hashed = toks.select(
        "doc_id", "lang", F.explode(F.expr(_SHINGLES_FROM_T)).alias("token")
    ).select("doc_id", "lang", F.xxhash64("token").alias("th"))
    return hashed.distinct() if distinct else hashed


@query("ext_neardup_jaccard", oracle=_JACCARD_ORACLE, tier=3)
def ext_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs shingle-set Jaccard >= 0.6 within a language — EXACT, via
    prefix filtering (the AllPairs/PPJoin candidate bound), so the inverted
    index never explodes on hot shingles.

    The r3 form joined the full inverted index with itself: a boilerplate
    shingle appearing in d documents contributed O(d²) join rows, quadratic
    on any real corpus. Prefix filtering keeps the join exact while
    restricting it to each document's (n - ceil(t*n) + 1) globally RAREST
    shingles (global order = (doc-frequency asc, hash asc), shared by all
    docs): if |A∩B| >= α, the globally smallest common element sits within
    the first |A|-α+1 elements of A *and* the first |B|-α+1 of B (at least
    α elements of each set — the intersection — order at-or-after it), so
    the rare-prefix self-join loses no qualifying pair; with the size
    filter 5*min(n_a,n_b) >= 3*max(n_a,n_b) implied by J >= 3/5, α >=
    ceil(t*n) per doc. Hot shingles have maximal doc-frequency, i.e. sort
    LAST — they enter a prefix only when a doc consists almost entirely of
    boilerplate, exactly when its near-dup pairs are real output, not noise.
    Candidate verification intersects the two full (distinct) hashed
    shingle arrays per candidate pair — O(n_a+n_b) per pair, never a
    re-join of the inverted index. Thresholds use integer arithmetic
    (ceil(3n/5) = (3n+4) DIV 5): no float rounding at the bound.

    Shingle identity is carried by its xxhash64 (every shuffle moves 8-byte
    longs, never shingle strings); the SQL oracle joins the strings, and
    parity is asserted at both sf0.01 and sf0.1, so a hash collision in the
    fixture vocabulary would be caught, not silently absorbed."""
    corpus = _corpus_with_dups(spark, sf_dir)
    # ranked = shingles + df/pos/n_tok. Doc-frequency comes from a window
    # over (lang, th) rather than a groupBy + join-back (one shuffle of the
    # shingle table instead of two); the (doc_id) window re-keys once more.
    # ranked is not cached. Its two consumers (the prefix self-join and the
    # verification-array aggregate) share its shingle exchanges through
    # exchange reuse, and AQE sizes every stage from runtime statistics.
    # A cache would pin its last shuffle at spark.sql.shuffle.partitions,
    # because AQE never changes the output partitioning of a cached plan.
    tok = _hashed_shingle_tokens(corpus)
    doc_w = W.partitionBy("doc_id").orderBy("df", "th")
    ranked = (
        tok.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("lang", "th"))
        )
        .withColumn("pos", F.row_number().over(doc_w))
        .withColumn(
            "n_tok",
            F.count(F.lit(1)).over(
                doc_w.rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            ),
        )
    )
    # df >= 2 is a lossless join-input cut (round 8): a qualifying pair
    # shares its prefix witness, so that shingle's doc frequency is >= 2
    # by definition — df == 1 prefix rows (the bulk of a rarest-first
    # prefix) can never match and are dropped from BOTH sides of the
    # self-join. Output unchanged; measured ~35% off the key at sf0.1.
    prefix = ranked.filter(
        (F.col("pos") <= F.col("n_tok") - F.expr("(3*n_tok + 4) DIV 5") + 1)
        & (F.col("df") >= 2)
    ).select("doc_id", "lang", "th", "n_tok")
    # SHUFFLE_HASH over the planner's sort-merge default: both sides are
    # the rare-prefix subset (already a small fraction of the shingle
    # table), so the per-partition build fits easily and the join skips
    # both sort passes — measured 0.76 s vs 1.16 s min-of-3 at sf0.1
    # (guide §3.1; r13). Same argument at 100 TB: the prefix frame is the
    # df-pruned rare tail, orders of magnitude under the corpus.
    a = prefix.hint("shuffle_hash").alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: J >= 3/5 forces 5*min(n) >= 3*max(n)
            & (
                5 * F.least(F.col("a.n_tok"), F.col("b.n_tok"))
                >= 3 * F.greatest(F.col("a.n_tok"), F.col("b.n_tok"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = ranked.groupBy("doc_id").agg(
        F.collect_list("th").alias("ths"), F.first("n_tok").alias("n_tok")
    )
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.ths"), F.col("sb.ths")))
    jac = n_common.cast("double") / (
        F.col("sa.n_tok") + F.col("sb.n_tok") - n_common
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --- ext_dedup_cluster ------------------------------------------------------

# Connected components over the near-dup graph — the final step of every
# dedup pipeline: group mutually-similar docs into clusters and elect a
# canonical keeper (min doc_id) per cluster. Oracle: DuckDB recursive CTE
# computes exact reachability closure and min-reachable-id per node; the
# graph here (planted duplicate pairs + any natural near-dups) is small, so
# the quadratic closure is fine as an oracle.
_CLUSTER_ORACLE = f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus
),
tok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS token
  FROM toks
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
jac AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.6
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jac
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM jac
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c
JOIN (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
) s USING (cluster_id)
"""

_CLUSTER_MAX_ITERS = 10


#: Below this measured edge count the whole dup-graph fits ONE task and the
#: single-pass union-find path runs; above it, the distributed label-
#: propagation loop. ~16 bytes/edge -> 2M edges ≈ 32 MB, comfortably one
#: task. Tests force the iterative path by monkeypatching this to 0.
_CLUSTER_SMALL_EDGES = 2_000_000


def _cc_union_find(batches):
    """Single-partition connected components: streaming union-find over the
    mirrored edge list, emitting (doc_id, min-member label, component size).
    Runs as ONE task inside mapInPandas — C-speed on the worker, no driver
    collect."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["a"].to_numpy(), pdf["b"].to_numpy()):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    if not parent:
        return
    label = {x: find(x) for x in parent}
    sizes: dict = {}
    for root in label.values():
        sizes[root] = sizes.get(root, 0) + 1
    yield pd.DataFrame(
        {
            "doc_id": list(label),
            "cluster_id": [label[x] for x in label],
            "cluster_size": [sizes[label[x]] for x in label],
        }
    )


@query("ext_dedup_cluster", oracle=_CLUSTER_ORACLE, tier=3)
def ext_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over jaccard>=0.6 pairs.

    Two execution paths, picked by the MEASURED dup-graph size (the same
    runtime-statistics decision AQE makes when it broadcasts a small join
    side — but across an iterative fixpoint, which AQE cannot see):

    - **Small graph** (edge count under ``_CLUSTER_SMALL_EDGES``): the
      mirrored edge list — O(#dup-pairs), orders of magnitude smaller than
      the corpus after banding — is coalesced into ONE task and solved by
      streaming union-find inside ``mapInPandas``: exact components, one
      job, no iteration. Even at 100 TB corpus scale a planted-duplicate
      graph is typically ~0.01% of rows, so this is the common case.
    - **Large graph**: iterative min-label propagation (Pregel-style,
      plain DataFrames), two hops batched per driver action, eager
      ``localCheckpoint`` per round so each round's plan stays O(1)
      exchanges regardless of iteration count (without it the round-3 plan
      accumulated 500+ exchanges), convergence proven by the monotone chg
      flag. The label table iterates hash-partitioned on doc_id at a width
      derived from the measured edge count (one partition per ~500k
      edges). On a real cluster prefer ``setCheckpointDir`` +
      ``.checkpoint()``: localCheckpoint does not survive executor loss.
      GraphFrames/Pregel is the packaged form of this same plan.

    Labels exist only for EDGE-ENDPOINT docs in both paths; docs with no
    near-dup edge never enter either computation and are re-attached as
    size-1 singletons by the final corpus left join."""
    # mirror each pair into both directions with ONE explode over the pair
    # frame — a union of two selects would put the exact-jaccard pipeline
    # (shingle explode + inverted-index self-join) under both branches and
    # compute it twice; explode keeps a single linear lineage, so one cache
    # build pays for the pipeline exactly once.
    pair_df = ext_neardup_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = scoped_persist(
        pair_df.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                )
            ).alias("e")
        ).select("e.a", "e.b")
    )
    # one eager action builds the edge cache AND measures the dup-graph
    n_edges = edges.count()
    if n_edges < _CLUSTER_SMALL_EDGES:
        labeled = edges.repartition(1).mapInPandas(
            _cc_union_find,
            schema="doc_id long, cluster_id long, cluster_size long",
        )
    else:
        labeled = _cc_label_propagation(edges, n_edges)
    return (
        _corpus_with_dups(spark, sf_dir)
        .select("doc_id")
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
        )
    )


def _cc_label_propagation(edges: DataFrame, n_edges: int) -> DataFrame:
    """Distributed connected-components path (see ext_dedup_cluster doc)."""
    # iteration width sized to the measured graph: iterating a small label
    # table at the corpus' shuffle width pays a fixed per-task scheduling
    # cost per hop (measured 1.4 s of a 5.7 s sf0.1 total for 2 hops over
    # 2k rows x 32 partitions); a 100 TB dup-graph still fans out to
    # thousands of partitions.
    width = max(1, min(int(n_edges // 500_000) + 1, 4096))
    edges = scoped_persist(edges.repartition(width, "b"))
    labels = scoped_persist(
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .repartition(width, "doc_id")
    )
    labels.count()
    # BATCH two propagation hops per driver action: the convergence count is
    # the expensive part at low latency (each count is a full job), and
    # near-dup components are shallow (cliques/stars, diameter <= 2), so
    # pairing hops halves the driver round-trips — typical corpora converge
    # in ONE count instead of two-three. The chg flag reflects the second
    # hop of the pair: if hop 2 changed nothing, hop 2 was a no-op AND the
    # fixpoint is proven, because labels can only decrease monotonically.
    for _ in range(_CLUSTER_MAX_ITERS // 2):
        cur = labels
        for hop in range(2):
            nbr_min = (
                edges.join(cur, edges.b == cur.doc_id)
                .groupBy("a")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            cur = cur.join(nbr_min, cur.doc_id == nbr_min.a, "left").select(
                cur.doc_id,
                F.least(
                    cur.cluster_id,
                    F.coalesce(F.col("nbr_min"), cur.cluster_id),
                ).alias("cluster_id"),
                (
                    F.col("nbr_min").isNotNull()
                    & (F.col("nbr_min") < cur.cluster_id)
                ).alias("chg"),
            )
        # eager localCheckpoint materializes the round AND truncates lineage
        # so each round's plan is O(1) exchanges (see docstring).
        new_labels = cur.localCheckpoint(eager=True)
        changed = new_labels.filter("chg").count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    else:
        # the monotone-chg convergence proof only holds when the loop broke
        # early; exhausting the iteration budget means a component with
        # diameter > 2*_CLUSTER_MAX_ITERS//2 hops exists and the labels are
        # NOT a fixpoint — fail loud rather than return wrong clusters
        # (mirrors the simhash packed-vote overflow guard's style).
        raise RuntimeError(
            f"ext_dedup_cluster: label propagation did not converge within "
            f"{_CLUSTER_MAX_ITERS} hops ({changed} labels still changing); "
            "raise _CLUSTER_MAX_ITERS for this graph's diameter"
        )
    # cluster sizes come from the LABEL table (every non-singleton member is
    # an edge endpoint, so labels covers it); a count-over-window on the
    # cached label frame (one tiny shuffle, no join) replaces a corpus-wide
    # groupBy plus a corpus x sizes shuffle join.
    return labels.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(W.partitionBy("cluster_id")),
    )


# --- ext_neardup_minhash_lsh ------------------------------------------------

_N_HASHES = 64
# 32 bands of 2: candidate prob at jaccard exactly 0.6 is 1-(1-0.36)^32 ≈
# 1 - 6.3e-7 per pair — recall-heavy banding is correct when an exact
# verification pass follows (precision comes from the verifier, recall must
# come from the bands). Sized so the exact all-pairs oracle stays valid
# across fixture REGENERATION, not just on today's fixtures: even a
# regenerated corpus with ~10^3 borderline (J≈0.6) pairs has expected
# banding misses ~6e-4, and planted duplicates (J>=0.8 → per-band 0.64,
# miss (1-0.64)^32 ≈ 5e-15) can never miss. The r3 16x2 banding had
# per-borderline-pair miss 8e-4 — one unlucky regeneration away from an
# honest approximation reading as a hash failure (ADVICE.md r3).
_BAND_SIZE = 2


@query("ext_neardup_minhash_lsh", oracle=_JACCARD_ORACLE, tier=3)
def ext_neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup at scale: seeded xxhash64 family -> per-band
    signatures -> candidate pairs via band-bucket equi-join -> exact Jaccard
    verification on candidates only. The sketch itself is not
    SQL-expressible (DuckDB has no xxhash64), but the DECLARED output — the
    exact-verified pair set — is: banding at 32 bands x 2 rows recalls
    every >=0.6 pair on the fixtures (verified pair-for-pair against the
    all-pairs result at sf0.01 AND sf0.1, seeds fixed), so the exact
    all-pairs oracle applies verbatim. A banding regression that drops a
    true pair now breaks the hash, instead of hiding behind a rows-only
    check; tests additionally assert candidates ⊇ the exact result.

    100 TB shape: ONE shuffle of the raw shingle table builds, per doc, the
    distinct shingle-hash set (``collect_set`` — the dedup is folded into
    the aggregate, no separate distinct shuffle) AND all 64 minhashes as
    parallel duplicate-insensitive min() aggregates (no 64x row explode).
    Band buckets come from ONE groupBy of the exploded band table (not a
    self-join — half the band-table network traffic and no join build), and
    candidate pairs are generated inside each bucket with array
    higher-order functions, O(sum bucket²) = the LSH candidate count by
    definition, never corpus². Exact verification intersects the two
    per-doc hash arrays per candidate pair (broadcast-joinable doc frame),
    never re-joining the shingle-level inverted index.
    """
    corpus = _corpus_with_dups(spark, sf_dir)
    # hash the shingle string ONCE; the 64-member family then hashes the
    # fixed-width (long, seed) pair — avoids 64 string concats + 64
    # variable-length string hashes per shingle row; every shuffle moves
    # longs, not strings
    tok = _hashed_shingle_tokens(corpus, distinct=False)

    # persisted: one row per doc carrying BOTH the signature columns and
    # the verification array; bands and the two verification sides all read
    # it, so the corpus is shingled exactly once. scoped_persist is
    # released at the next declared-query entry, so the cache cannot leak
    # across the grading loop or a long-lived job's stages.
    sig = scoped_persist(
        tok.groupBy("doc_id", "lang").agg(
            F.collect_set("th").alias("ths"),
            *[
                F.min(F.xxhash64("th", F.lit(s))).alias(f"h{s}")
                for s in range(_N_HASHES)
            ],
        )
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_sigs = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[
                        F.col(f"h{b * _BAND_SIZE + r}")
                        for r in range(_BAND_SIZE)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id",
        "lang",
        F.posexplode(band_sigs).alias("band", "band_sig"),
    )
    # bucket the band table once and emit ordered pairs per bucket with
    # array combinatorics: sort_array fixes the intra-bucket order so every
    # pair comes out (small_id, large_id) exactly once per bucket
    buckets = (
        bands.groupBy("lang", "band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(
                    x.alias("doc_a"), y.alias("doc_b")
                ),
            ),
        )
    )
    candidates = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

    # exact verification on candidates only: intersect the per-doc distinct
    # hash arrays — O(n_a + n_b) per candidate pair, and the doc-level
    # `sets` frame is small enough that AQE broadcasts it under the
    # candidate joins
    sets = sig.select("doc_id", "ths", F.size("ths").alias("n_tok"))
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.ths"), F.col("sb.ths")))
    jac = n_common.cast("double") / (
        F.col("sa.n_tok") + F.col("sb.n_tok") - n_common
    )
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --- ext_multimodal_schema --------------------------------------------------

# The vector column crosses the driver boundary as a lossless integer
# quantization string: each float32 element widens exactly to double,
# scales by 1e6 and floors — every step is IEEE-deterministic, so both
# engines emit the identical bigint per element and identical CSV text.
# (A raw array<float> column crashes the driver's canonicalizer —
# CORRECTNESS_r01; multimodal_schema_arrays() keeps the typed variant.)
_MM_ORACLE = """
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       array_to_string(
         list_transform(e.embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)),
         ',') AS emb_q
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


def multimodal_schema_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed variant: the ArrayType(Float) column must survive the
    join loss-free. Internal-only; the declared query quantizes+serializes."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "n_chars", "label", "embedding"
    )


@query("ext_multimodal_schema", oracle=_MM_ORACLE, tier=3)
def ext_multimodal_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pairing: text metadata joined with vector payloads."""
    paired = multimodal_schema_arrays(spark, sf_dir)
    emb_q = F.array_join(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("string"),
        ),
        ",",
    )
    return paired.select(
        "doc_id", "lang", "n_chars", "label", emb_q.alias("emb_q")
    )


# --- ext_neardup_edit_distance --------------------------------------------------

#: Blocking key width (leading characters), comparison prefix, distance
#: threshold, and the max block size a 100 TB run would refuse to expand
#: (oversized blocks = degenerate keys like empty strings; the fixture has
#: none — pinned in tests).
_EDIT_BLOCK_CHARS = 12
_EDIT_PREFIX_CHARS = 64
_EDIT_MAX_DIST = 5
_EDIT_MAX_BLOCK = 64

_EDIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, lang,
         substr(text, 1, {_EDIT_BLOCK_CHARS}) AS blk,
         substr(text, 1, {_EDIT_PREFIX_CHARS}) AS pre
  FROM documents
),
sized AS (
  SELECT b.*, COUNT(*) OVER (PARTITION BY lang, blk) AS blk_n FROM b
),
kept AS (SELECT * FROM sized WHERE blk_n <= {_EDIT_MAX_BLOCK})
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       levenshtein(a.pre, c.pre) AS edit_dist
FROM kept a JOIN kept c
  ON a.lang = c.lang AND a.blk = c.blk AND a.doc_id < c.doc_id
WHERE levenshtein(a.pre, c.pre) <= {_EDIT_MAX_DIST}
"""


@query("ext_neardup_edit_distance", oracle=_EDIT_ORACLE, tier=3)
def ext_neardup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup detection — the entity-resolution
    classic (record linkage, OCR/typo variants) that complements the
    set-similarity family: MinHash/Jaccard see REORDERED shingles as
    similar but a 3-character typo splits shingles; Levenshtein sees the
    typo as distance 3 regardless of shingle damage. Candidate pairs
    come ONLY from equal (lang, leading-{_EDIT_BLOCK_CHARS}-chars)
    blocks — the standard blocking step that turns O(n^2) into
    sum-of-block-squares — and are verified by edit distance over the
    {_EDIT_PREFIX_CHARS}-char prefix at threshold {_EDIT_MAX_DIST}.

    Honest recall trade, stated not hidden: a near-dup whose edit sits
    INSIDE the blocking prefix lands in a different block and is missed
    — production stacks multiple blocking passes (first chars, last
    chars, sorted-token key) and unions candidates; one pass is the
    demonstrated mechanism. Oversized blocks (degenerate keys) are
    EXCLUDED by the {_EDIT_MAX_BLOCK}-row cap rather than silently
    exploding the join — the no-silent-caps rule: the cap is declared
    here and the fixture is pinned cap-clean in tests/test_round10.py.

    Shape: one window sizes blocks (same shuffle the join needs, both
    key on (lang, blk)), the self-join is equi-keyed on the block (hash
    join, never BNLJ), and Levenshtein runs only on surviving candidate
    pairs' bounded prefixes. At 100 TB block sizing bounds the quadratic
    term by construction."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, _EDIT_BLOCK_CHARS).alias("blk"),
        F.substring("text", 1, _EDIT_PREFIX_CHARS).alias("pre"),
    )
    sized = d.withColumn(
        "blk_n", F.count(F.lit(1)).over(W.partitionBy("lang", "blk"))
    )
    kept = sized.filter(F.col("blk_n") <= _EDIT_MAX_BLOCK)
    a = kept.alias("a")
    c = kept.alias("c")
    pairs = a.join(
        c,
        (F.col("a.lang") == F.col("c.lang"))
        & (F.col("a.blk") == F.col("c.blk"))
        & (F.col("a.doc_id") < F.col("c.doc_id")),
    )
    dist = F.levenshtein(F.col("a.pre"), F.col("c.pre"))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("c.doc_id").alias("doc_b"),
        dist.alias("edit_dist"),
    ).filter(F.col("edit_dist") <= _EDIT_MAX_DIST)


# --- ext_hard_negatives -----------------------------------------------------

_HARDNEG_ORACLE = """
WITH a AS (
  SELECT vec_id AS anchor_id, label AS a_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS av
  FROM embeddings WHERE vec_id % 97 = 0
), scored AS (
  SELECT a.anchor_id, e.vec_id AS cand_id,
         CASE WHEN e.label <> a.a_label THEN 1 ELSE 0 END AS is_neg,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), av)
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(av, av))) AS cos_sim
  FROM embeddings e, a
  WHERE e.vec_id <> a.anchor_id
), ranked AS (
  SELECT anchor_id, cand_id, is_neg, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY anchor_id, is_neg
           ORDER BY cos_sim DESC, cand_id ASC
         ) AS BIGINT) AS rnk
  FROM scored
)
SELECT anchor_id,
       CASE WHEN is_neg = 1 THEN 'neg' ELSE 'pos' END AS kind,
       rnk, cand_id, cos_sim
FROM ranked
WHERE (is_neg = 1 AND rnk <= 5) OR (is_neg = 0 AND rnk <= 1)
"""


@query("ext_hard_negatives", oracle=_HARDNEG_ORACLE, tier=3)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): for each anchor (the vec_id%97 benchmark slice),
    the 5 most-similar vectors with a DIFFERENT label — the negatives
    that actually teach the margin — plus the top same-label positive.
    ext_knn_per_label ranks WITHIN each label; this ranks ACROSS the
    label boundary, which is what makes a negative 'hard'.

    Shape: the anchor frame broadcasts (it is a fixed modulo slice —
    model-sized at any corpus) against one corpus scan; scoring is pure
    JVM-side array arithmetic (zip_with dot product, no UDF), and the
    per-(anchor, side) top-k is a window over the scored frame
    partitioned on the anchor key. At 100 TB the exact scorer is the
    oracle complement — the bucketed path is the existing ANN family
    (IVF / LSH / PQ) feeding the same ranked output shape."""
    from ..session import widen_scan

    # widen_scan A/B (min-of-4 at sf0.1): the interpreted zip_with
    # cosine fold over a single-row-group scan is 1-task CPU-dense map
    # work — full path widened 0.97 s vs 1.31 s unwidened (1.35x; the
    # scoring stage alone is 3x, the anchor-keyed window is the rest)
    e = widen_scan(load(spark, sf_dir, "embeddings"))
    a = e.filter(F.expr("vec_id % 97 = 0")).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        _as_double("embedding").alias("av"),
    )
    ed = _as_double(F.col("embedding"))
    av = F.col("av")
    cos = _dot(ed, av) / (F.sqrt(_dot(ed, ed)) * F.sqrt(_dot(av, av)))
    scored = (
        e.crossJoin(F.broadcast(a))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            F.expr(
                "CASE WHEN label <> a_label THEN 1 ELSE 0 END"
            ).alias("is_neg"),
            cos.alias("cos_sim"),
        )
    )
    w = W.partitionBy("anchor_id", "is_neg").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(
            ((F.col("is_neg") == 1) & (F.col("rnk") <= 5))
            | ((F.col("is_neg") == 0) & (F.col("rnk") <= 1))
        )
        .select(
            "anchor_id",
            F.expr(
                "CASE WHEN is_neg = 1 THEN 'neg' ELSE 'pos' END"
            ).alias("kind"),
            "rnk",
            "cand_id",
            "cos_sim",
        )
    )


# --- ext_neardup_incremental --------------------------------------------------

#: Batch doc ids live far above both the corpus ids and the planted-copy
#: offset so the two id spaces can never collide.
_INC_OFFSET = 3_000_000

_INC_BATCH_SQL = f"""
  SELECT doc_id + {_INC_OFFSET} AS batch_id,
         regexp_replace(text, '^[^ ]+ ', '') AS text, lang
  FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id + {_INC_OFFSET} AS batch_id, text, lang
  FROM documents WHERE doc_id % 9 = 1
  UNION ALL
  SELECT doc_id + {_INC_OFFSET} AS batch_id,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
           AS text, lang
  FROM documents WHERE doc_id % 9 = 2
"""

_INC_ORACLE = f"""
WITH batch AS ({_INC_BATCH_SQL}),
btoks AS (SELECT batch_id, lang, string_split(text, ' ') AS t FROM batch),
btok AS (
  SELECT DISTINCT batch_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS token
  FROM btoks
),
ctoks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
ctok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS token
  FROM ctoks
),
bsz AS (SELECT batch_id, COUNT(*) AS bn FROM btok GROUP BY batch_id),
csz AS (SELECT doc_id, COUNT(*) AS cn FROM ctok GROUP BY doc_id),
pairs AS (
  SELECT b.batch_id, c.doc_id, COUNT(*) AS n_common
  FROM btok b JOIN ctok c ON b.token = c.token AND b.lang = c.lang
  GROUP BY b.batch_id, c.doc_id
),
jac AS (
  SELECT batch_id, doc_id,
         CAST(n_common AS DOUBLE) / (bn + cn - n_common) AS j
  FROM pairs JOIN bsz USING (batch_id) JOIN csz USING (doc_id)
  WHERE CAST(n_common AS DOUBLE) / (bn + cn - n_common) >= 0.6
),
best AS (
  SELECT batch_id, doc_id, j
  FROM (
    SELECT batch_id, doc_id, j,
           ROW_NUMBER() OVER (
             PARTITION BY batch_id ORDER BY j DESC, doc_id ASC) AS rn
    FROM jac
  ) WHERE rn = 1
)
SELECT b.batch_id, b.lang,
       COALESCE(best.doc_id, -1) AS match_id,
       COALESCE(best.j, 0.0) AS best_jaccard,
       CASE WHEN best.doc_id IS NULL THEN 'novel' ELSE 'duplicate' END
         AS verdict
FROM batch b LEFT JOIN best USING (batch_id)
"""


@query("ext_neardup_incremental", oracle=_INC_ORACLE, tier=3)
def ext_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: a new ingest batch screened against the
    standing corpus — the daily-crawl shape (GPT-3/RefinedWeb dedup
    loops), where yesterday's corpus is a persisted MinHash index and
    only batch x corpus pairs are ever candidates (never corpus x corpus
    — that audit already ran; ext_dedup_incremental is the exact-digest
    twin of this key). The synthesized batch exercises all three
    verdicts deterministically: one slice drops its first token (high-
    Jaccard near-dup), one re-ingests verbatim (J = 1), one reverses its
    token order (same vocabulary, disjoint shingles — novel).

    Declared output: per batch doc, the best standing-corpus match at
    Jaccard >= 0.6 within its language block (ties: lowest corpus id) or
    the (-1, 0.0, 'novel') sentinel. The oracle is the exact batch x
    corpus shingle join; the LSH path's banding (32 bands x 2, the
    sibling ext_neardup_minhash_lsh recall budget) surfaces every >= 0.6
    pair on the fixtures, so the exact oracle applies verbatim and a
    banding recall regression breaks the hash.

    100 TB shape: the corpus signature frame built here IS the persisted
    index in production (one corpus shuffle, amortized across batches) —
    in this single-shot form both sides share ONE signature pass over
    the id-disjoint corpus UNION batch (two separate sig pipelines paid
    the explode + shuffle fixed cost twice: 2.47 s vs 1.5-1.8 s combined,
    min-of-3 at sf0.1), and the downstream split is a pure id-range
    filter on the persisted frame, so swapping in a stored index changes
    nothing below it. Each batch then costs: batch shingles (map-side),
    the band-bucket equi-join with the BATCH side broadcast (the corpus
    band table never reshuffles — it is bucketed by band_sig on disk),
    and exact verification on O(candidates). Nothing scales with
    corpus x corpus."""
    d = load(spark, sf_dir, "documents")
    # one scan builds the whole batch: the CASE resolves against the
    # INPUT doc_id (projection aliases don't shadow same-select exprs)
    batch = d.filter(F.col("doc_id") % 9 <= 2).select(
        (F.col("doc_id") + _INC_OFFSET).alias("doc_id"),
        F.expr(
            "CASE doc_id % 9"
            " WHEN 0 THEN regexp_replace(text, '^[^ ]+ ', '')"
            " WHEN 1 THEN text"
            " ELSE concat_ws(' ', reverse(split(text, ' '))) END"
        ).alias("text"),
        "lang",
    )

    tok = _hashed_shingle_tokens(
        d.select("doc_id", "text", "lang").unionAll(batch), distinct=False
    )
    sig = scoped_persist(
        tok.groupBy("doc_id", "lang").agg(
            F.collect_set("th").alias("ths"),
            *[
                F.min(F.xxhash64("th", F.lit(s))).alias(f"h{s}")
                for s in range(_N_HASHES)
            ],
        )
    )

    n_bands = _N_HASHES // _BAND_SIZE
    band_sigs = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[
                        F.col(f"h{b * _BAND_SIZE + r}")
                        for r in range(_BAND_SIZE)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )

    csig = sig.filter(F.col("doc_id") < _INC_OFFSET)
    bsig = sig.filter(F.col("doc_id") >= _INC_OFFSET)
    cbands = csig.select(
        F.col("doc_id").alias("corpus_id"),
        "lang",
        F.posexplode(band_sigs).alias("band", "band_sig"),
    )
    bbands = bsig.select(
        F.col("doc_id").alias("batch_id"),
        "lang",
        F.posexplode(band_sigs).alias("band", "band_sig"),
    )
    candidates = (
        cbands.join(F.broadcast(bbands), ["lang", "band", "band_sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    bsets = bsig.select(
        F.col("doc_id").alias("batch_id"),
        F.col("ths").alias("b_ths"),
        F.size("ths").alias("bn"),
    )
    csets = csig.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("ths").alias("c_ths"),
        F.size("ths").alias("cn"),
    )
    n_common = F.size(F.array_intersect(F.col("b_ths"), F.col("c_ths")))
    jac = n_common.cast("double") / (
        F.col("bn") + F.col("cn") - n_common
    )
    matched = (
        candidates.join(F.broadcast(bsets), "batch_id")
        .join(csets, "corpus_id")
        .select("batch_id", "corpus_id", jac.alias("j"))
        .filter(F.col("j") >= 0.6)
    )
    best = matched.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("batch_id").orderBy(
                F.desc("j"), F.asc("corpus_id")
            )
        ),
    ).filter(F.col("rn") == 1)
    return (
        batch.select(F.col("doc_id").alias("batch_id"), "lang")
        # broadcast the match side (<= one row per batch doc, KBs): the
        # planner defaulted to a SortMergeJoin that shuffled BOTH sides
        # of this left join (r14 before-plan, Exchange 4 + 51); with the
        # broadcast the batch side never shuffles at all (guide §3.1)
        .join(F.broadcast(best), "batch_id", "left")
        .select(
            "batch_id",
            "lang",
            F.coalesce("corpus_id", F.lit(-1).cast("long")).alias(
                "match_id"
            ),
            F.coalesce("j", F.lit(0.0)).alias("best_jaccard"),
            F.when(F.col("corpus_id").isNull(), F.lit("novel"))
            .otherwise(F.lit("duplicate"))
            .alias("verdict"),
        )
    )


# --- ext_split_leakage ----------------------------------------------------------

_LEAK_SPLIT_CASE = (
    "CASE WHEN substr(md5(CAST(doc_id AS {vtype}) || ':bdl-split-7'),"
    " 1, 1) < 'c' THEN 'train'"
    " WHEN substr(md5(CAST(doc_id AS {vtype}) || ':bdl-split-7'),"
    " 1, 1) < 'e' THEN 'val' ELSE 'test' END"
)

_LEAK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
tok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS token
  FROM toks
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM tok a JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
  FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.6
)
SELECT doc_a, doc_b, jaccard,
       (SELECT {_LEAK_SPLIT_CASE.format(vtype="VARCHAR")}
        FROM (SELECT doc_a AS doc_id)) AS split_a,
       (SELECT {_LEAK_SPLIT_CASE.format(vtype="VARCHAR")}
        FROM (SELECT doc_b AS doc_id)) AS split_b,
       ((SELECT {_LEAK_SPLIT_CASE.format(vtype="VARCHAR")}
         FROM (SELECT doc_a AS doc_id))
        <> (SELECT {_LEAK_SPLIT_CASE.format(vtype="VARCHAR")}
            FROM (SELECT doc_b AS doc_id))) AS is_leak
FROM jac
"""


@query("ext_split_leakage", oracle=_LEAK_ORACLE, tier=3)
def ext_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: every near-duplicate pair
    (3-gram Jaccard >= 0.6 within a language block) annotated with the
    two docs' train/val/test assignments and a leak flag — the check
    run BEFORE trusting held-out metrics, because a val doc whose
    near-twin sits in train inflates them silently (the
    ext_decontaminate shape turned inward: benchmark-vs-corpus there,
    split-vs-split here). Splits re-derive from the ext_train_split_hash
    salt map-side, so the audit binds to the exact assignment training
    uses.

    The pair set is the exact >= 0.6 set: candidates come from the
    sibling MinHash banding (32x2 — the recall budget whose exhaustive
    fixture-pin lives in tests/test_round12b.py) over ONE signature pass,
    and every candidate is exactly verified by hash-set intersection, so
    the banding can only MISS (never admit) and the fixture pin bounds
    that. Jaccard is an exact integer ratio — identical IEEE division
    both engines, no rounding.

    Shape: one shuffle builds per-doc shingle sets + 64 minhashes
    (collect_set + parallel min aggregates); candidate pairs come from
    ONE groupBy of the exploded band table with intra-bucket array
    combinatorics (the sibling ext_neardup_minhash_lsh shape — the r12
    band SELF-join here shuffled the band table twice and built a join
    hash over it); exact verification touches O(candidates) rows via
    two joins on the persisted signature frame. Nothing scales with
    pairs-across-the-corpus — only with near-duplicate density, exactly
    like the production GPT-3/RefinedWeb dedup loops this models.

    Bound (ADVICE r13): the array combinatorics materialize all
    O(|bucket|^2) pairs of one (lang, band, band_sig) bucket inside a
    single aggregate task's flatten, whereas the old self-join streamed
    pairs and AQE could skew-split a degenerate bucket. A pathological
    corpus where most docs share a band signature (one boilerplate page
    duplicated corpus-wide) risks one oversized task; the production
    guard is a bucket-size cap (drop or sample buckets over ~10k
    members — such a bucket is all-pairs-duplicate anyway; the same
    disclosure as ext_cross_source_overlap's collect_set bound). At
    fixture scale max |bucket| is single digits."""
    d = load(spark, sf_dir, "documents")
    tok = _hashed_shingle_tokens(
        d.select("doc_id", "text", "lang"), distinct=False
    )
    sig = scoped_persist(
        tok.groupBy("doc_id", "lang").agg(
            F.collect_set("th").alias("ths"),
            *[
                F.min(F.xxhash64("th", F.lit(s))).alias(f"h{s}")
                for s in range(_N_HASHES)
            ],
        )
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_sigs = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[
                        F.col(f"h{b * _BAND_SIZE + r}")
                        for r in range(_BAND_SIZE)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id", "lang", F.posexplode(band_sigs).alias("band", "band_sig")
    )
    buckets = (
        bands.groupBy("lang", "band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice("ds", i + F.lit(2), F.size("ds")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    asets = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ths").alias("a_ths"),
        F.size("ths").alias("an"),
    )
    bsets = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ths").alias("b_ths"),
        F.size("ths").alias("bn"),
    )
    n_common = F.size(F.array_intersect(F.col("a_ths"), F.col("b_ths")))
    jac = n_common.cast("double") / (
        F.col("an") + F.col("bn") - n_common
    )
    verified = (
        cand.join(asets, "doc_a")
        .join(bsets, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )
    split_a = F.expr(
        _LEAK_SPLIT_CASE.format(vtype="STRING").replace("doc_id", "doc_a")
    )
    split_b = F.expr(
        _LEAK_SPLIT_CASE.format(vtype="STRING").replace("doc_id", "doc_b")
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "jaccard",
        split_a.alias("split_a"),
        split_b.alias("split_b"),
        (split_a != split_b).alias("is_leak"),
    )


# --- ext_minhash_est_error ------------------------------------------------------

#: Estimator-audit MinHash: 16 seeds, md5-based so BOTH engines compute
#: the identical signatures (the production path's xxhash64 does not
#: exist in DuckDB — this key audits the ESTIMATOR, so its hash family
#: only needs to be shared and uniform). 15 hex digits < 2^60 keep the
#: parsed value inside BIGINT.
_MEE_SEEDS = 16

_MEE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
tok AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS gram
  FROM toks
),
sig AS (
  SELECT doc_id,
         {", ".join(
             f"MIN(('0x' || substr(md5(gram || '#{s}'), 1, 15))::BIGINT)"
             f" AS mh{s}" for s in range(_MEE_SEEDS))}
  FROM tok GROUP BY doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM tok a JOIN tok b
    ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS exact_j
  FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
  WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.6
)
SELECT j.doc_a, j.doc_b, j.exact_j,
       CAST(({" + ".join(
           f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END"
           for s in range(_MEE_SEEDS))}) AS BIGINT) AS n_seed_matches,
       CAST(({" + ".join(
           f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END"
           for s in range(_MEE_SEEDS))}) AS DOUBLE)
         / {_MEE_SEEDS} AS est_j,
       abs(CAST(({" + ".join(
           f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END"
           for s in range(_MEE_SEEDS))}) AS DOUBLE)
           / {_MEE_SEEDS} - j.exact_j) AS abs_err
FROM jac j
JOIN sig sa ON j.doc_a = sa.doc_id
JOIN sig sb ON j.doc_b = sb.doc_id
"""


@query("ext_minhash_est_error", oracle=_MEE_ORACLE, tier=3)
def ext_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit: for every exact >= 0.6 near-dup
    pair, the true shingle Jaccard, the 16-seed MinHash estimate
    (matching-seed fraction — the unbiased estimator, Var = J(1-J)/k),
    and the absolute error — the sketch-budget read a dedup owner
    consults before trading seeds for recall (the production 64-seed
    xxhash path's error is bounded by the same binomial law; this key
    audits the ESTIMATOR itself with an md5 family both engines share).

    Exactness: signatures are md5-derived BIGINT minima — bit-identical
    in both engines, so seed-match counts are exact integers; exact
    Jaccard and the estimate are single divisions of exact integers and
    the error is one shared-text abs/subtract.

    Shape: ONE distinct (doc, gram) shuffle feeds both the exact pair
    set and (semi-join-pruned to pair-member docs only — signatures for
    docs outside the pair set would be dropped by the final inner joins
    unread, so they are never computed) the 16 parallel MIN() signature
    aggregates; pair verification joins the O(pairs) frame against the
    signature frame twice. At 100 TB pairs come from the LSH
    candidates, exactly as in the production siblings."""
    # widen_scan A/B'd and NOT taken (r14): widening the scan before the
    # shingle explode measured 2.49 vs 2.14 s min-of-4 gated — unlike the
    # _shingle_tokens siblings, this key's cost sits in the downstream
    # full pair self-join (already wide after the distinct), so the
    # round-robin repartition of the raw docs is pure overhead here.
    d = load(spark, sf_dir, "documents")
    tok = scoped_persist(
        d.select("doc_id", "lang", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr(_SHINGLES_FROM_T)).alias("gram"),
        )
        .distinct()
    )
    # persisted: referenced by BOTH size-attach joins below — without the
    # cache the doc-size aggregate executes twice (~0.8 s each at sf0.1);
    # broadcast at the joins (O(docs-with-shingles) rows, dimension-sized)
    sz = scoped_persist(
        tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        # SHUFFLE_HASH (guide §3.1): equal-size distinct-shingle sides,
        # per-partition build fits, skips both sorts (0.67 vs 0.74 s
        # min-of-4 at sf0.1; the jaccard candidate-join precedent)
        tok.hint("shuffle_hash")
        .alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = scoped_persist(
        pairs.join(
            F.broadcast(
                sz.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sz.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
                )
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("exact_j"),
        )
        .filter(F.col("exact_j") >= 0.6)
    )
    # The 16 md5 signature aggregates are the dominant CPU of this key,
    # and signatures only ever SURFACE for docs that appear in the tiny
    # >= 0.6 pair set (the final joins are inner) — so compute them only
    # for pair-member docs: a broadcast semi-join prunes tok from the
    # whole corpus's shingles to the handful of near-dup docs' shingles
    # before any hashing happens (guide §2.3 "don't compute things you
    # throw away"; r13). Output rows are unchanged. At 100 TB pairs come
    # from the LSH candidates and this same pruning is what makes the
    # audit affordable there too.
    pair_docs = (
        jac.select(F.col("doc_a").alias("doc_id"))
        .union(jac.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # persisted: sa and sb below both read it — uncached, the semi-join +
    # 16-aggregate subtree would execute once per side
    sig = scoped_persist(
        tok.join(F.broadcast(pair_docs), "doc_id", "leftsemi")
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("gram"), F.lit(f"#{s}"))),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                ).alias(f"mh{s}")
                for s in range(_MEE_SEEDS)
            ]
        )
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(_MEE_SEEDS)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(_MEE_SEEDS)],
    )
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(_MEE_SEEDS)
    )
    return (
        jac.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "exact_j",
            matches.cast("long").alias("n_seed_matches"),
            (matches.cast("double") / _MEE_SEEDS).alias("est_j"),
            F.abs(
                matches.cast("double") / _MEE_SEEDS - F.col("exact_j")
            ).alias("abs_err"),
        )
    )
